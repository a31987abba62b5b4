"""Timing, Spark counters and spans for the lake benchmark.

Every engine call goes through `Recorder.call`. Untraced, it only times
the call. Traced, it also tags the call's Spark jobs with a job group,
reads them back through `SparkStatusTracker` and the status store, and
keeps one span per call plus one child span per Spark stage, in memory,
until the run writes them out.
"""

from __future__ import annotations

import os
import statistics
import time
from collections import defaultdict

COUNTERS = ("wall_s", "jobs", "tasks", "exec_cpu_s", "shuffle_bytes", "input_bytes", "driver_s")


def tail(samples: list[float]) -> tuple[float, int]:
    """The highest percentile with at least ten samples beyond it, as
    (value, percentile). Below 20 samples no percentile above the median
    qualifies, so the median is returned and labelled 50."""
    xs = sorted(samples)
    n = len(xs)
    rank = n - 10  # 1-based rank with ten samples above it
    if rank <= (n + 1) // 2:
        return statistics.median(xs), 50
    return xs[rank - 1], int(100 * rank / n)


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of `intervals`."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


def self_times(spans: list[dict]) -> dict[str, float]:
    """Median self time per span name: duration minus the part of it
    the span's children cover."""
    kids = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            kids[s["parent"]].append((s["start"], s["end"]))
    per = defaultdict(list)
    for s in spans:
        d = s["end"] - s["start"]
        per[s["name"]].append(d - covered(kids[s["id"]], s["start"], s["end"]))
    return {k: statistics.median(v) for k, v in per.items()}


class Recorder:
    def __init__(self, spark, trace: bool) -> None:
        self.sc = spark.sparkContext
        self.trace = trace
        self.walls: dict[str, list[float]] = defaultdict(list)
        self.counters: dict[str, list[dict]] = defaultdict(list)
        self.spans: list[dict] = []
        self._next = 0
        self.group: int | None = None  # current cycle / query span id

    def _span(self, name: str, start: float, end: float, parent: int | None) -> int:
        self._next += 1
        self.spans.append(
            {"id": self._next, "name": name, "start": start, "end": end, "parent": parent, "group": self.group}
        )
        return self._next

    def open_group(self, name: str) -> None:
        """Start a cycle/read span, the parent of the calls until
        close_group."""
        self._group_name = name
        self._group_start = time.time()
        self._next += 1
        self.group = self._next

    def close_group(self) -> None:
        if self.trace and self.group is not None:
            self.spans.append(
                {
                    "id": self.group,
                    "name": self._group_name,
                    "start": self._group_start,
                    "end": time.time(),
                    "parent": None,
                    "group": self.group,
                }
            )
        self.group = None

    def call(self, name: str, fn):
        """Run `fn` (which must consume its result) and time it."""
        if not self.trace:
            t0 = time.perf_counter()
            out = fn()
            self.walls[name].append(time.perf_counter() - t0)
            return out
        gid = f"lakebench-{self._next + 1}"
        self.sc.setJobGroup(gid, name)
        e0, t0 = time.time(), time.perf_counter()
        try:
            out = fn()
        finally:
            wall = time.perf_counter() - t0
            e1 = e0 + wall
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        self.walls[name].append(wall)
        sid = self._span(name, e0, e1, self.group)
        self.counters[name].append(self._read_jobs(gid, sid, e0, e1, wall))
        return out

    def _read_jobs(self, gid: str, sid: int, e0: float, e1: float, wall: float) -> dict:
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()  # status store is fed asynchronously
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(gid)
        c = dict.fromkeys(COUNTERS, 0)
        c["wall_s"], c["jobs"] = wall, len(jobs)
        intervals = []
        for j in jobs:
            info = tracker.getJobInfo(j)
            for stage in info.stageIds if info else ():
                try:
                    sd = store.lastStageAttempt(stage)
                except Exception:  # noqa: BLE001 - stage evicted or never submitted
                    continue
                if sd.status().toString() == "SKIPPED":
                    continue
                c["tasks"] += sd.numTasks()
                c["exec_cpu_s"] += sd.executorCpuTime() / 1e9
                c["shuffle_bytes"] += sd.shuffleWriteBytes()
                c["input_bytes"] += sd.inputBytes()
                sub, done = sd.submissionTime(), sd.completionTime()
                if sub.isDefined() and done.isDefined():
                    a, b = sub.get().getTime() / 1e3, done.get().getTime() / 1e3
                    intervals.append((a, b))
                    self._span("spark.stage", a, b, sid)
        c["driver_s"] = wall - covered(intervals, e0, e1)
        return c

    def layer_metrics(self, names: list[str]) -> dict[str, float]:
        """Median of each counter per call, keyed `engine.<op>.<counter>`;
        0 for an op this run never called."""
        out = {}
        for op in names:
            rows = self.counters.get(op, [])
            for k in COUNTERS:
                out[f"engine.{op}.{k}"] = statistics.median(r[k] for r in rows) if rows else 0
        return out


# -- host witnesses ---------------------------------------------------------


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over this
    machine's CPUs, since boot (/proc/stat); 0 where not reported."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def rss_peak_mb(pids: list[int]) -> float:
    """Sum of VmHWM (peak resident set) over the given processes."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except OSError:
            pass
    return total / 1024


def dir_stats(root: str) -> tuple[int, dict[str, int]]:
    """(bytes of the files under root, parquet file count per top-level dir)."""
    size, files = 0, defaultdict(int)
    for d, _sub, names in os.walk(root):
        top = os.path.relpath(d, root).split(os.sep)[0]
        for n in names:
            p = os.path.join(d, n)
            try:
                size += os.lstat(p).st_size
            except OSError:
                continue
            if n.endswith(".parquet"):
                files[top] += 1
    return size, dict(files)
