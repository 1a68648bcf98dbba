"""Spans, Spark stage harvest, JVM, process-tree and host readings, taken
from outside the engine.

Every public engine call the benchmark makes runs inside :meth:`Tracer.span`,
which counts it as attempted (and failed, if it raises). With tracing on, the
span also sets a Spark job group; when it ends, the group is mapped to job
ids through ``statusTracker`` and the jobs' stages are read from the status
store (run time, shuffle bytes and records, spill, task-time quantiles). The
time the tracer spends on itself is summed per pass, so a traced run reports
its own overhead. With tracing off, a span is two clock reads and a counter.

Each pass also reads how much CPU time the hypervisor stole from the
machine while it ran; :func:`unstolen` takes the cost of that steal out of
a wall time.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager

_STAGE_FIELDS = {
    "executor_run_ms": "executorRunTime",
    "shuffle_read_bytes": "shuffleReadBytes",
    "shuffle_read_records": "shuffleReadRecords",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "shuffle_write_records": "shuffleWriteRecords",
    "spill_disk_bytes": "diskBytesSpilled",
    "spill_memory_bytes": "memoryBytesSpilled",
    "tasks": "numTasks",
}


class Tracer:
    def __init__(self, enabled: bool, tree: "ProcessTree"):
        self.enabled = enabled
        self.tree = tree
        self.spans: list[dict] = []
        self.attempted = 0
        self.failed = 0
        self.overhead_s: dict[str, float] = {}
        self._sc = None

    def attach(self, spark) -> None:
        self._sc = spark.sparkContext
        if self.enabled:
            jvm = self._sc._jvm
            gw = self._sc._gateway
            self._store = self._sc._jsc.sc().statusStore()
            self._bus = self._sc._jsc.sc().listenerBus()
            self._no_status = jvm.java.util.ArrayList()
            self._no_quantiles = gw.new_array(jvm.double, 0)
            self._quantiles = gw.new_array(jvm.double, 2)
            self._quantiles[0], self._quantiles[1] = 0.5, 1.0

    @contextmanager
    def span(self, name: str, pass_id: str, parent: int | None = None):
        """Time one call into the engine. The body must end in an action so
        the span owns the work its call planned."""
        rec = {"id": len(self.spans), "name": name, "pass": pass_id, "parent": parent}
        self.spans.append(rec)
        self.attempted += 1
        group = f"perfbench-{rec['id']}"
        if self.enabled and self._sc is not None:
            self._sc.setJobGroup(group, name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        except BaseException as e:
            self.failed += 1
            rec["error"] = repr(e)
            raise
        finally:
            rec["end"] = time.perf_counter()
            if self.enabled and self._sc is not None:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
                self._sc.setLocalProperty("spark.job.description", None)
                rec.update(self._harvest(group))
                cost = time.perf_counter() - rec["end"]
                self.overhead_s[pass_id] = self.overhead_s.get(pass_id, 0.0) + cost

    def _harvest(self, group: str) -> dict:
        self._bus.waitUntilEmpty()
        tracker = self._sc.statusTracker()
        jobs = sorted(tracker.getJobIdsForGroup(group))
        stage_ids = sorted({s for j in jobs for s in (tracker.getJobInfo(j).stageIds or [])})
        out = {k: 0 for k in _STAGE_FIELDS}
        out["jobs"] = len(jobs)
        out["stages"] = len(stage_ids)
        heaviest = (-1, 0.0, 0.0)  # (run ms, median task ms, max task ms)
        for sid in stage_ids:
            attempts = self._store.stageData(sid, False, self._no_status, False, self._no_quantiles)
            for i in range(attempts.size()):
                sd = attempts.apply(i)
                for key, getter in _STAGE_FIELDS.items():
                    out[key] += int(getattr(sd, getter)())
                if sd.numTasks() >= 2 and sd.executorRunTime() > heaviest[0]:
                    summary = self._store.taskSummary(sid, sd.attemptId(), self._quantiles)
                    if summary.isDefined():
                        q = summary.get().executorRunTime()
                        heaviest = (sd.executorRunTime(), float(q.apply(0)), float(q.apply(1)))
        # task skew of the span's heaviest multi-task stage: max / median task time
        out["task_skew"] = heaviest[2] / heaviest[1] if heaviest[1] > 0 else 1.0
        return out

    def jvm(self) -> tuple[float, float]:
        """(cumulative GC seconds, heap used MiB) from the JVM management beans."""
        mf = self._sc._jvm.java.lang.management.ManagementFactory
        gc_ms = 0
        it = mf.getGarbageCollectorMXBeans().iterator()
        while it.hasNext():
            gc_ms += max(0, it.next().getCollectionTime())
        return gc_ms / 1000.0, mf.getMemoryMXBean().getHeapMemoryUsage().getUsed() / 2**20

    @contextmanager
    def pass_(self, pass_id: str):
        """The root span of one pass; the operator spans inside name it as
        their parent. Not a call into the engine, so not counted. It
        records the share of the machine's CPU time stolen by the host
        during the pass; a traced run also samples the process tree's
        memory and reads its CPU time for the length of the pass."""
        rec = {"id": len(self.spans), "name": "pass", "pass": pass_id, "parent": None}
        self.spans.append(rec)
        ticks = host_ticks()
        if self.enabled:
            self.tree.resume()
            rec["cpu_s"] = -self.tree.cpu_seconds()
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["steal_share"] = steal_share([(ticks, host_ticks())])
            if self.enabled:
                rec["cpu_s"] = round(rec["cpu_s"] + self.tree.cpu_seconds(), 2)
                self.tree.pause()

    def pass_span(self, pass_id: str) -> dict:
        return next(s for s in self.spans if s["pass"] == pass_id and s["parent"] is None)

    def ops(self, pass_id: str) -> list[dict]:
        """The operator spans of one pass."""
        return [s for s in self.spans if s["pass"] == pass_id and s["parent"] is not None]


class ProcessTree:
    """This process and all its descendants: the JVM, the Python daemon and
    the UDF workers. While resumed, a background thread samples the tree's
    memory and keeps the peak; each process counts its proportional set
    (PSS), so pages the forked workers share are counted once. The sampler
    runs only inside the passes of a traced run, so neither the oracles'
    work nor an untraced run's timings see it."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._tick = os.sysconf("SC_CLK_TCK")
        self._active = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="memory-sampler", daemon=True)
        self._thread.start()

    def resume(self) -> None:
        self._active.set()

    def pause(self) -> None:
        self._active.clear()

    def stop(self) -> None:
        self._stop.set()
        self._active.set()
        self._thread.join(timeout=5)

    @staticmethod
    def _stat(pid) -> list[str]:
        """Fields of /proc/<pid>/stat after the command name (state first)."""
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()

    def pids(self) -> list[int]:
        children: dict[int, list[int]] = {}
        for entry in os.listdir("/proc"):
            if entry.isdigit():
                try:
                    children.setdefault(int(self._stat(entry)[1]), []).append(int(entry))
                except (OSError, IndexError, ValueError):
                    continue
        out, todo = [], [os.getpid()]
        while todo:
            pid = todo.pop()
            out.append(pid)
            todo.extend(children.get(pid, []))
        return out

    def cpu_seconds(self) -> float:
        """User + system CPU of the tree, including its reaped children (a
        UDF worker that exits is reaped by the daemon)."""
        ticks = 0
        for pid in self.pids():
            try:
                ticks += sum(int(x) for x in self._stat(pid)[11:15])  # utime stime cutime cstime
            except (OSError, IndexError, ValueError):
                continue
        return round(ticks / self._tick, 2)

    def memory_bytes(self) -> int:
        total = 0
        for pid in self.pids():
            try:
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    total += next(int(line.split()[1]) for line in f if line.startswith("Pss:")) * 1024
            except (OSError, StopIteration, ValueError):
                continue
        return total

    def _run(self) -> None:
        while self._active.wait() and not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, self.memory_bytes())
            self._stop.wait(self.interval_s)


# A pass that loses a share s of its wanted CPU time to the host runs about
# 1 / (1 - s)^1.5 times longer: 1 / (1 - s) for the stolen time, and more
# because the other tenants that take that time also share this machine's
# cores and caches, so the time it is given runs slower. The exponent is
# fitted on the 4-vCPU build host; see perfbench/README.md.
STEAL_EXPONENT = 1.5


def unstolen(wall_s: float, share: float) -> float:
    """Wall seconds as they would read on a host that stole nothing."""
    return wall_s * (1.0 - share) ** STEAL_EXPONENT


def steal_share(intervals) -> float:
    """Share of the wanted CPU time stolen over ``(before, after)`` pairs of
    :func:`host_ticks` readings."""
    stolen = sum(b[0] - a[0] for a, b in intervals)
    wanted = sum(b[1] - a[1] for a, b in intervals)
    return stolen / wanted if wanted else 0.0


def host_ticks() -> tuple[int, int]:
    """(stolen, wanted) CPU ticks of the whole machine since boot: time the
    hypervisor gave this machine's runnable CPUs to other tenants, and that
    time plus the time they ran."""
    with open("/proc/stat") as f:
        user, nice, system, _idle, _iowait, irq, softirq, steal = map(int, f.readline().split()[1:9])
    return steal, user + nice + system + irq + softirq + steal


def dir_stats(root: str) -> tuple[int, int]:
    """(bytes, files) under ``root``."""
    size = files = 0
    for dirpath, _, names in os.walk(root):
        for n in names:
            try:
                size += os.path.getsize(os.path.join(dirpath, n))
                files += 1
            except OSError:
                continue
    return size, files


def commits_under(root: str) -> int:
    """Snapshots committed to every snapshot-catalog table under ``root``
    (each table keeps its commit history in a ``_manifest.json``)."""
    total = 0
    for dirpath, _, names in os.walk(root):
        if "_manifest.json" in names:
            with open(os.path.join(dirpath, "_manifest.json")) as f:
                total += len(json.load(f)["snapshots"])
    return total


def since_boot() -> float:
    """Seconds since boot, on the clock /proc gives process start times in."""
    return time.clock_gettime(time.CLOCK_BOOTTIME)


def process_age() -> float:
    """Seconds since this process started."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    return since_boot() - start_ticks / os.sysconf("SC_CLK_TCK")
