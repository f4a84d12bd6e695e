"""Measurement helpers: per-layer Spark job-group tracing, process-tree
peak RSS and host steal time.

Tracing works from outside the engine: each call into a layer runs under
its own Spark job group, and afterwards the jobs of that group are looked
up in the status store (kept even with the UI off):
statusTracker().getJobIdsForGroup -> getJobInfo(j).stageIds ->
statusStore().lastStageAttempt(sid).
"""

from __future__ import annotations

import os
import statistics
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

# per-call stage counters summed over the stages a layer call ran
STAGE_FIELDS = ("jobs", "stages", "tasks", "run_ms", "cpu_ms", "shuffle_bytes",
                "spill_bytes")


class LayerTrace:
    """Times every layer call; with `enabled`, also tags it with a job group
    so its Spark work can be attributed afterwards."""

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.calls: list[tuple[str, str, float]] = []  # (layer, group, seconds)

    @contextmanager
    def call(self, layer: str):
        group = f"{layer}#{len(self.calls)}"
        if self.enabled:
            self.sc.setJobGroup(group, layer)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            dt = time.perf_counter() - t0
            if self.enabled:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self.calls.append((layer, group, dt))

    def walls(self, layer: str) -> list[float]:
        return [dt for name, _g, dt in self.calls if name == layer]

    def _group_counters(self, group: str) -> dict[str, float]:
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        out = dict.fromkeys(STAGE_FIELDS, 0.0)
        job_ids = tracker.getJobIdsForGroup(group)
        out["jobs"] = float(len(job_ids))
        seen: set[int] = set()
        for j in job_ids:
            info = tracker.getJobInfo(j)
            for sid in info.stageIds if info else ():
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    st = store.lastStageAttempt(sid)
                except Py4JJavaError:  # never attempted: skipped (shuffle reuse)
                    continue
                if str(st.status()) != "COMPLETE":
                    continue
                out["stages"] += 1
                out["tasks"] += st.numCompleteTasks()
                out["run_ms"] += st.executorRunTime()
                out["cpu_ms"] += st.executorCpuTime() / 1e6
                out["shuffle_bytes"] += st.shuffleReadBytes() + st.shuffleWriteBytes()
                out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        return out

    def layer_metrics(self, layers: list[str]) -> dict[str, float]:
        """`<layer>.wall_ms_p50` plus the per-call median of each stage
        counter, 0 for layers this run never called."""
        if self.enabled:
            self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        out: dict[str, float] = {}
        for layer in layers:
            groups = [g for name, g, _dt in self.calls if name == layer]
            walls = self.walls(layer)
            out[f"{layer}.wall_ms_p50"] = statistics.median(walls) * 1e3 if walls else 0.0
            per_call = [self._group_counters(g) for g in groups] if self.enabled else []
            for f in STAGE_FIELDS:
                vals = [c[f] for c in per_call]
                out[f"{layer}.{f}"] = float(statistics.median(vals)) if vals else 0.0
        return out


def subtract_layer(metrics: dict[str, float], whole: str, part: str, name: str) -> None:
    """metrics[name.*] = metrics[whole.*] - metrics[part.*] (e.g. highlight =
    search_many_highlighted - search_many on the same batch)."""
    for key in [k for k in metrics if k.startswith(whole + ".")]:
        field = key[len(whole) + 1:]
        metrics[f"{name}.{field}"] = metrics[key] - metrics.get(f"{part}.{field}", 0.0)


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    """pid's child processes, their children, and so on."""
    kids = _children()
    out, stack = [], list(kids.get(pid, ()))
    while stack:
        p = stack.pop()
        out.append(p)
        stack.extend(kids.get(p, ()))
    return out


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class PeakRss:
    """Peak RSS of the process tree: the largest sum, over one sample, of
    VmHWM of every live process (this one, the JVM and the Python
    workers).  Call sample() at checkpoints.  A Python worker that
    exits and is replaced is not counted twice."""

    def __init__(self):
        self.peak_kb = 0

    def sample(self) -> None:
        pids = [os.getpid()] + descendants(os.getpid())
        self.peak_kb = max(self.peak_kb, sum(_vm_hwm_kb(pid) for pid in pids))

    def mb(self) -> float:
        return self.peak_kb / 1024.0


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and its
    descendants, including their reaped children.  Unlike wall time this
    leaves out the time the hypervisor ran other guests (steal)."""
    ticks = 0
    for pid in [os.getpid()] + descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return ticks / os.sysconf("SC_CLK_TCK")


def steal_seconds() -> float:
    """Host-wide CPU steal time so far (all CPUs), in seconds."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")
