"""Measurement from outside the program: spans, Spark counters, /proc.

- ``Tracer`` keeps spans (name, start, end, parent, op id) in memory
  around the benchmark's calls into each layer; ``NullTracer`` is the
  untraced stand-in with the same interface.
- ``SparkCounters`` reads the job and stage records of the Spark UI REST
  API once, after the timed phase, and attributes every job, whatever its
  job group (streaming micro-batches run under their own), to the
  innermost span open when it was submitted.
- ``ProcStats`` sums CPU time and peak RSS of this process, the driver JVM
  and the Python workers the JVM forks, from ``/proc``.
- ``ProgressListener`` collects streaming progress durations.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import time
import urllib.request
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener


class NullTracer:
    enabled = False

    @contextmanager
    def span(self, name: str, op: int | None = None):
        yield

    def new_op(self) -> int:
        return 0


class Tracer:
    enabled = True

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._ops = 0

    def new_op(self) -> int:
        self._ops += 1
        return self._ops

    @contextmanager
    def span(self, name: str, op: int | None = None):
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = self.spans[parent]["op"]
        rec = {"name": name, "start": time.time(), "end": None,
               "parent": parent, "op": op}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def self_times(self) -> dict[str, float]:
        """Per span name: duration minus the time its child spans cover."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            out[s["name"]] = out.get(s["name"], 0.0) + s["end"] - s["start"] - child[i]
        return out

    def innermost(self, t: float) -> dict | None:
        """The latest-started span open at ``t``; span bounds are widened to
        whole milliseconds because the REST API reports times in ms."""
        best = None
        for s in self.spans:
            if int(s["start"] * 1000) / 1000 <= t <= s["end"] + 0.001:
                if best is None or s["start"] >= best["start"]:
                    best = s
        return best


def _rest_time(s: str) -> float:
    return (
        dt.datetime.strptime(s.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
        .replace(tzinfo=dt.timezone.utc)
        .timestamp()
    )


class SparkCounters:
    """Job and stage records from the UI REST API of one application."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        port = sc.uiWebUrl.rsplit(":", 1)[1]
        self.base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"
        self.jobs: list[dict] = []
        self.stages: dict[int, dict] = {}
        self.scans: list[tuple[float, int]] = []

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def fetch(self) -> None:
        self.jobs = self._get("/jobs")
        for j in self.jobs:
            j["t"] = _rest_time(j["submissionTime"])
        for st in self._get("/stages"):
            if st["status"] == "SKIPPED":
                continue
            agg = self.stages.setdefault(st["stageId"], {
                "tasks": 0, "run_ms": 0, "gc_ms": 0, "shuffle_read": 0,
                "shuffle_write": 0, "spill": 0,
            })
            agg["tasks"] += st.get("numCompleteTasks", 0)
            agg["run_ms"] += st.get("executorRunTime", 0)
            agg["gc_ms"] += st.get("jvmGcTime", 0)
            agg["shuffle_read"] += st.get("shuffleReadBytes", 0)
            agg["shuffle_write"] += st.get("shuffleWriteBytes", 0)
            agg["spill"] += st.get("diskBytesSpilled", 0)
        self.scans = []  # (submission time, parquet files read) per SQL execution
        for ex in self._get("/sql?details=true&planDescription=false&offset=0&length=1000000"):
            files = sum(
                int(m["value"].replace(",", ""))
                for node in ex.get("nodes", [])
                if node["nodeName"].startswith("Scan parquet")
                for m in node.get("metrics", [])
                if m["name"] == "number of files read"
            )
            self.scans.append((_rest_time(ex["submissionTime"]), files))

    def files_read_between(self, t0: float, t1: float) -> int:
        return sum(f for t, f in self.scans if t0 - 0.001 <= t <= t1 + 0.001)

    def jobs_between(self, t0: float, t1: float) -> list[dict]:
        return [j for j in self.jobs if t0 - 0.001 <= j["t"] <= t1 + 0.001]

    def totals(self, jobs: list[dict]) -> dict[str, float]:
        """Stage counters summed over ``jobs`` (each stage counted once)."""
        ids = {sid for j in jobs for sid in j["stageIds"] if sid in self.stages}
        tot = {"jobs": len(jobs), "stages": len(ids)}
        for key in ("tasks", "run_ms", "gc_ms", "shuffle_read", "shuffle_write", "spill"):
            tot[key] = sum(self.stages[i][key] for i in ids)
        return tot


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


# HotSpot's JIT compiler threads, as /proc cuts "C2 CompilerThread0" to 15 chars
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


class ProcStats:
    """CPU seconds and peak RSS of this process, the JVM and its children."""

    def __init__(self, jvm_pid: int) -> None:
        self.jvm_pid = jvm_pid
        self.tick = os.sysconf("SC_CLK_TCK")

    def tree(self) -> list[int]:
        parents: dict[int, int] = {}
        for d in os.listdir("/proc"):
            if d.isdigit():
                st = _stat(int(d))
                if st is not None:
                    parents[int(d)] = int(st[1])
        tree, frontier = [self.jvm_pid], [self.jvm_pid]
        while frontier:
            frontier = [p for p, pp in parents.items() if pp in frontier]
            tree.extend(frontier)
        return tree

    def cpu_s(self) -> float:
        own = os.times()
        total = own.user + own.system
        for pid in self.tree():
            st = _stat(pid)
            if st is not None:  # utime stime cutime cstime
                total += sum(int(x) for x in st[11:15]) / self.tick
        return total

    def jit_s(self) -> float:
        """CPU seconds of the JVM's JIT compiler threads, part of ``cpu_s``.
        Compilation goes on long after warm-up: on ``queries`` it is about
        half the CPU time of a timed pass."""
        task = f"/proc/{self.jvm_pid}/task"
        total = 0
        for tid in os.listdir(task):
            try:
                with open(f"{task}/{tid}/stat") as f:
                    name, st = f.read().split("(", 1)[1].rsplit(")", 1)
            except OSError:  # the thread exited
                continue
            if name.startswith(JIT_THREADS):
                total += sum(int(x) for x in st.split()[11:13])  # utime stime
        return total / self.tick

    def reset_peak_rss(self) -> None:
        """Reset VmHWM to the current RSS (``clear_refs`` value 5)."""
        for pid in (os.getpid(), *self.tree()):
            try:
                with open(f"/proc/{pid}/clear_refs", "w") as f:
                    f.write("5")
            except OSError:
                pass

    def peak_rss_mb(self) -> float:
        """Summed VmHWM: peak since the last ``reset_peak_rss``."""
        kb = _hwm_kb(os.getpid()) + sum(_hwm_kb(p) for p in self.tree())
        return kb / 1024


def host_ticks() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_pct(t0: list[int], t1: list[int]) -> float:
    d = [b - a for a, b in zip(t0, t1)]
    busy = sum(d) - d[3] - d[4]
    return 100.0 * d[7] / busy if busy else 0.0


class ProgressListener(StreamingQueryListener):
    """Streaming progress durations, one record per micro-batch."""

    def __init__(self) -> None:
        super().__init__()
        self.progress: list[dict] = []
        self.terminated = 0

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        self.progress.append({
            "t": time.time(), "batch": p.batchId, "rows": p.numInputRows,
            **{k: float(v) for k, v in p.durationMs.items()},
        })

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        self.terminated += 1

    def wait_terminated(self, n: int, timeout: float = 20.0) -> None:
        """Listener events arrive asynchronously; wait for ``n`` queries."""
        deadline = time.time() + timeout
        while self.terminated < n and time.time() < deadline:
            time.sleep(0.05)
