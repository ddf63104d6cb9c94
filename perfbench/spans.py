"""Spans around layer calls, Spark counters per span, and driver-side
resident memory, all recorded from the benchmark's own files.

A span sets a Spark job group for the calls it wraps, so every job the
layer launches is attributed to it without touching the engine. After
the run, counters are read per group from Spark's status store: job
group -> job ids -> stage ids -> the last stage attempt's metrics and
task-duration quantiles. This works with the UI disabled. Spans stay
in memory and are written out once, at the end.
"""

from __future__ import annotations

import contextlib
import os
import threading
import time
from contextlib import contextmanager

_MB = 1024 * 1024


class Tracer:
    """Nested spans with (name, start, end, parent, run id). A disabled
    tracer records nothing and sets no job group."""

    def __init__(self, run_id: str, enabled: bool) -> None:
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.sc = None

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield {}
            return
        sp = {
            "id": len(self.spans), "name": name, "run": self.run_id,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "attrs": dict(attrs), "groups": [], "start": time.perf_counter(),
        }
        self.spans.append(sp)
        self._stack.append(sp)
        self._set_group(sp)
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter()
            self._stack.pop()
            if self._stack:
                self._set_group(self._stack[-1])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def _set_group(self, sp: dict) -> None:
        group = f"{self.run_id}/{sp['id']}/{sp['name']}"
        if group not in sp["groups"]:
            sp["groups"].append(group)
        self.sc.setJobGroup(group, sp["name"])

    def collect_counters(self) -> None:
        """Attach Spark counters to every span, from its own groups only
        (children's jobs stay with the children)."""
        if not self.enabled or not self.spans:
            return
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        store = jsc.statusStore()
        for sp in self.spans:
            job_ids: list[int] = []
            for g in sp["groups"]:
                job_ids += tracker.getJobIdsForGroup(g)
            sp["counters"] = _stage_counters(self.sc, tracker, store, sorted(set(job_ids)))

    def dump(self) -> list[dict]:
        return [
            {k: v for k, v in s.items() if k != "groups"}
            | {"dur_s": s["end"] - s["start"]}
            for s in self.spans
        ]


def _stage_counters(sc, tracker, store, job_ids: list[int]) -> dict:
    c = {
        "jobs": len(job_ids), "stages": 0, "tasks": 0, "run_s": 0.0,
        "cpu_s": 0.0, "gc_s": 0.0, "shuffle_write_mb": 0.0,
        "shuffle_records": 0, "shuffle_read_mb": 0.0, "spill_mb": 0.0,
        "output_mb": 0.0, "task_skew": 1.0,
    }
    stage_ids: set[int] = set()
    for j in job_ids:
        info = tracker.getJobInfo(j)
        if info is not None:
            stage_ids.update(info.stageIds)
    heaviest = (-1.0, None)
    for sid in sorted(stage_ids):
        try:
            st = store.lastStageAttempt(sid)
        except Exception:  # stage never attempted (skipped)
            continue
        if st.status().toString() != "COMPLETE":
            continue
        c["stages"] += 1
        c["tasks"] += st.numTasks()
        c["run_s"] += st.executorRunTime() / 1e3
        c["cpu_s"] += st.executorCpuTime() / 1e9
        c["gc_s"] += st.jvmGcTime() / 1e3
        c["shuffle_write_mb"] += st.shuffleWriteBytes() / _MB
        c["shuffle_records"] += st.shuffleWriteRecords()
        c["shuffle_read_mb"] += st.shuffleReadBytes() / _MB
        c["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / _MB
        c["output_mb"] += st.outputBytes() / _MB
        if st.executorRunTime() > heaviest[0]:
            heaviest = (st.executorRunTime(), (sid, st.attemptId()))
    if heaviest[1] is not None:
        # skew of the layer's heaviest stage: max / median task duration
        q = sc._gateway.new_array(sc._gateway.jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        summary = store.taskSummary(heaviest[1][0], heaviest[1][1], q)
        if summary.isDefined():
            dur = summary.get().duration()
            med, mx = dur.apply(0), dur.apply(1)
            c["task_skew"] = mx / med if med > 0 else 1.0
    return c


def self_time(spans: list[dict], sp: dict) -> float:
    """A span's duration minus the time its direct children cover
    (children run sequentially, so their durations add)."""
    kids = [s for s in spans if s["parent"] == sp["id"]]
    return (sp["end"] - sp["start"]) - sum(k["end"] - k["start"] for k in kids)


def descendants(root: int) -> list[int]:
    """`root` and every live process below it."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo += children.get(p, [])
    return out


def cmdline(pid: int) -> bytes | None:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read()
    except OSError:
        return None


def _pss_kb(pid: int) -> int:
    """Proportional set size: resident pages, shared ones split among
    the processes mapping them, so forked Python workers are not counted
    once per fork."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Samples the resident memory (PSS) of a process tree (the Spark
    driver JVM plus the Python workers it forks) every `period` seconds
    and keeps the peak of the sum."""

    # one sample costs tens of ms of CPU (smaps_rollup walks the JVM's
    # page tables), so sampling faster takes CPU from the timed tasks
    def __init__(self, period: float = 1.0) -> None:
        self.period = period
        self.peak_kb = 0
        self._root: int | None = None
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def watch(self, pid: int) -> None:
        self._root = pid
        if not self._thread.is_alive():
            self._thread.start()

    def _loop(self) -> None:
        while not self._stop.wait(self.period):
            root = self._root
            if root is None:
                continue
            pids = descendants(root)
            self.peak_kb = max(self.peak_kb, sum(_pss_kb(p) for p in pids))

    def stop(self) -> None:
        self._stop.set()
        if self._thread.is_alive():
            self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024



_TICK = os.sysconf("SC_CLK_TCK")
# thread names (comm) of the JVM's JIT compiler threads
_JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _stat_fields(path: str) -> list[str]:
    with open(path) as f:
        return f.read().rsplit(")", 1)[1].split()


class CpuMeter:
    """CPU seconds used so far by a process tree (the driver JVM and the
    Python workers it forks), split into the JIT compiler threads' time
    and everything else.

    A process's total keeps the time of its threads that have exited and
    of the children it has reaped (a Python worker that exits hands its
    time to the daemon that forked it). Compiler threads are read one by
    one; the JVM starts and stops them as its compile queue grows and
    drains, so each one's last reading is kept after it exits."""

    def __init__(self, root: int) -> None:
        self.root = root
        self._jit: dict[str, int] = {}  # compiler thread id -> ticks

    def read(self) -> tuple[float, float]:
        """(CPU seconds outside the JIT compiler, JIT compiler seconds)"""
        ticks = 0
        for p in descendants(self.root):
            try:
                # utime, stime, cutime, cstime: fields 14-17 of proc_pid_stat(5)
                ticks += sum(int(x) for x in _stat_fields(f"/proc/{p}/stat")[11:15])
            except (OSError, ValueError):
                continue
        task = f"/proc/{self.root}/task"
        with contextlib.suppress(OSError):
            for tid in os.listdir(task):
                try:
                    with open(f"{task}/{tid}/comm") as f:
                        if not f.read().startswith(_JIT_THREADS):
                            continue
                    self._jit[tid] = sum(
                        int(x) for x in _stat_fields(f"{task}/{tid}/stat")[11:13])
                except (OSError, ValueError):
                    continue
        jit = sum(self._jit.values())
        return (ticks - jit) / _TICK, jit / _TICK
