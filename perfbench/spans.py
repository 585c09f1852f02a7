"""Spans, Spark counters and event-log folding for the traced run.

Spans are recorded by the benchmark's own wrappers around public
functions of the program; they stay in memory and are folded into
per-layer totals when the run ends. Counters are read from outside the
program: job groups through ``statusTracker``, cached RDDs through the
SparkContext, peak resident memory from ``/proc/<jvm pid>/status`` and
task metrics from the uncompressed Spark event log.
"""

from __future__ import annotations

import ctypes
import functools
import glob
import json
import os
import signal
import threading
import time
from collections import defaultdict


class Tracer:
    """In-memory spans ``(op, layer, start, end)``; one op at a time."""

    def __init__(self) -> None:
        self.spans: list[tuple[str, str, float, float]] = []
        self.op: str | None = None

    def span(self, layer: str, fn):
        """``fn`` wrapped so that each call records a ``layer`` span."""

        @functools.wraps(fn)
        def wrapped(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                self.spans.append((self.op, layer, t0, time.perf_counter()))

        return wrapped

    def layer_seconds(self) -> dict[str, float]:
        """Total seconds per layer. Spans of one op never nest in the
        layers traced here, so a span's duration is its self time."""
        out: dict[str, float] = defaultdict(float)
        for _, layer, t0, t1 in self.spans:
            out[layer] += t1 - t0
        return dict(out)

    def op_child_seconds(self) -> dict[str, float]:
        out: dict[str, float] = defaultdict(float)
        for op, _, t0, t1 in self.spans:
            out[op] += t1 - t0
        return dict(out)


# --------------------------------------------------------------- spark side
def group_jobs(sc, group: str) -> int:
    """Number of jobs Spark ran under job group ``group``. Waits for the
    asynchronous listener bus first, so that the count is final."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def cache_state(sc) -> tuple[int, int]:
    """(cached RDDs resident, their bytes in memory plus on disk)."""
    infos = sc._jsc.sc().getRDDStorageInfo()
    resident = sum(1 for i in infos if i.numCachedPartitions() > 0)
    size = sum(i.memSize() + i.diskSize() for i in infos)
    return resident, int(size)


# ---------------------------------------------------------------- /proc side
def _cpu_ticks() -> tuple[int, int]:
    """(busy, steal) clock ticks of the whole machine, from ``/proc/stat``."""
    with open("/proc/stat") as f:
        user, nice, system, _idle, _iowait, irq, softirq, steal = map(
            int, f.readline().split()[1:9]
        )
    return user + nice + system + irq + softirq, steal


class Stopwatch:
    """Wall time, and wall time less the share of CPU time that the
    hypervisor gave to other machines meanwhile (``steal`` in
    ``/proc/stat``). On a shared VM, stolen CPU stretches a CPU-bound op
    by that share whatever the program does; removing it keeps runs
    comparable when the neighbours' load changes. Without steal the two
    times are equal."""

    def __init__(self) -> None:
        self.t0, self.ticks0 = time.perf_counter(), _cpu_ticks()

    def read(self) -> tuple[float, float]:
        """(wall seconds, stolen share of the CPU time wanted)."""
        wall = time.perf_counter() - self.t0
        busy, steal = (now - then for now, then in zip(_cpu_ticks(), self.ticks0))
        return wall, steal / (busy + steal) if busy + steal else 0.0

    def seconds(self) -> float:
        """Wall seconds less the stolen share."""
        wall, stolen = self.read()
        return wall * (1.0 - stolen)


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        kids[int(fields[1])].append(int(stat.split("/")[2]))
    return kids


def descendants(pid: int) -> list[int]:
    """Processes below ``pid``, zombies not yet reaped included."""
    kids, out, todo = _children(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


PR_SET_CHILD_SUBREAPER = 36


def become_subreaper() -> None:
    """Make processes orphaned below this one its children. A CLI's
    JVM outlives the CLI's Python process for a moment; as a child of
    the benchmark it can be waited for instead of left behind."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        err = ctypes.get_errno()
        raise OSError(err, f"prctl(PR_SET_CHILD_SUBREAPER): {os.strerror(err)}")


def _reap_exited_children() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def reap_descendants(grace: float, kill_after: float = 10.0) -> None:
    """Wait until every process below this one has ended and been
    reaped, so that none is left even as a zombie. What still runs
    after ``grace`` seconds gets SIGTERM, and SIGKILL ``kill_after``
    seconds later."""
    deadline, sig = time.monotonic() + grace, None
    while True:
        _reap_exited_children()
        left = descendants(os.getpid())
        if not left:
            return
        if time.monotonic() >= deadline:
            sig = signal.SIGTERM if sig is None else signal.SIGKILL
            for p in left:
                try:
                    os.kill(p, sig)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + kill_after
        time.sleep(0.02)


def java_descendants(pid: int) -> list[int]:
    out = []
    for c in descendants(pid):
        try:
            with open(f"/proc/{c}/comm") as f:
                if f.read().strip() == "java":
                    out.append(c)
        except OSError:
            pass
    return out


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set of ``pid`` in MiB (0 if it has gone)."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


class JvmPeakSampler:
    """Samples the peak RSS of every JVM below ``pid`` until stopped;
    VmHWM only grows, so the last sample before exit is the peak."""

    def __init__(self, pid: int, interval: float = 0.2) -> None:
        self.pid, self.interval, self.peak_mb = pid, interval, 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _run(self) -> None:
        while not self._stop.is_set():
            for jvm in java_descendants(self.pid):
                self.peak_mb = max(self.peak_mb, vm_hwm_mb(jvm))
            self._stop.wait(self.interval)

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=5)
        return self.peak_mb


# ------------------------------------------------------------ event log side
TASK_FIELDS = ("task_cpu_s", "task_max_s", "shuffle_bytes", "spill_bytes", "gc_s")


def fold_event_log(path: str) -> dict[str, dict]:
    """Fold one uncompressed event log into per-job-group totals:
    jobs, stages and tasks run, summed task CPU, longest task,
    shuffle bytes written, bytes spilled and JVM GC seconds."""
    stage_group: dict[int, str] = {}
    per: dict[str, dict] = defaultdict(
        lambda: {"jobs": 0, "stages": set(), "tasks": 0, **{k: 0.0 for k in TASK_FIELDS}}
    )
    with open(path, encoding="utf-8") as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id", "")
                per[group]["jobs"] += 1
                for sid in ev.get("Stage IDs", []):
                    stage_group[sid] = group
            elif kind == "SparkListenerTaskEnd":
                rec = per[stage_group.get(ev["Stage ID"], "")]
                info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                rec["tasks"] += 1
                rec["stages"].add((ev["Stage ID"], ev.get("Stage Attempt ID", 0)))
                rec["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                rec["task_max_s"] = max(
                    rec["task_max_s"], (info["Finish Time"] - info["Launch Time"]) / 1e3
                )
                rec["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                rec["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0
                )
                rec["gc_s"] += m.get("JVM GC Time", 0) / 1e3
    return {g: {**r, "stages": len(r["stages"])} for g, r in per.items()}


def spark_conf_dir(dest: str, event_log_dir: str | None) -> str:
    """A Spark configuration directory owned by the benchmark; with
    ``event_log_dir`` it switches on the uncompressed event log."""
    os.makedirs(dest, exist_ok=True)
    lines = []
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        lines = [
            "spark.eventLog.enabled true",
            f"spark.eventLog.dir file://{event_log_dir}",
            "spark.eventLog.compress false",
            "spark.eventLog.rolling.enabled false",
        ]
    with open(os.path.join(dest, "spark-defaults.conf"), "w") as f:
        f.write("\n".join(lines) + "\n")
    return dest
