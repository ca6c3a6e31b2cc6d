"""Spans, Spark counters and host diagnostics for the benchmark.

A span wraps one call into an engine layer. It tags every Spark job the
call launches with a job group of its own, and on exit reads the jobs'
stages back from Spark's status store (which is kept with the UI
disabled): stage count, shuffle bytes, spill and executor CPU time.

The process-tree sampler and the /proc readers give the host-level
numbers that go into a run's raw output: peak RSS of this process, the
JVM and the Python workers together, CPU seconds of that tree, steal
time and load average.
"""

from __future__ import annotations

import itertools
import os
import threading
import time

MB = 1 << 20
_CLK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


class Tracer:
    """Records spans in memory; ``metrics()`` flattens them to
    ``<layer>.<field>`` values summed over every span of that layer."""

    FIELDS = ("s", "jobs", "stages", "shuffle_mb", "spill_mb", "task_cpu_s")

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._ids = itertools.count()

    def span(self, layer: str, **counts):
        return _Span(self, layer, counts)

    def _stage_totals(self, group: str) -> dict:
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        out = {"jobs": 0, "stages": 0, "shuffle_mb": 0.0, "spill_mb": 0.0, "task_cpu_s": 0.0}
        for job_id in self.sc.statusTracker().getJobIdsForGroup(group):
            out["jobs"] += 1
            it = store.job(job_id).stageIds().iterator()
            while it.hasNext():
                sd = store.lastStageAttempt(it.next())
                if str(sd.status()) == "SKIPPED":
                    continue
                out["stages"] += 1
                out["shuffle_mb"] += (sd.shuffleReadBytes() + sd.shuffleWriteBytes()) / MB
                out["spill_mb"] += sd.diskBytesSpilled() / MB
                out["task_cpu_s"] += sd.executorCpuTime() / 1e9
        return out

    def metrics(self, layers) -> dict[str, float]:
        """Every field of every layer in ``layers``; a layer that ran no
        span reads 0, so each workload reports the same metric names."""
        out = {f"{layer}.{f}": 0.0 for layer in layers for f in self.FIELDS}
        for sp in self.records():
            for key, val in sp.items():
                if key != "layer":
                    name = f"{sp['layer']}.{key}"
                    out[name] = out.get(name, 0.0) + val
        return out

    def records(self) -> list[dict]:
        """Every span with its Spark totals and the counts the caller set."""
        return [{**sp["totals"], **sp["counts"]} for sp in self.spans]


class _Span:
    def __init__(self, tracer: Tracer, layer: str, counts: dict):
        self.tracer, self.layer, self.counts = tracer, layer, counts

    def __enter__(self):
        self.group = f"perfbench-{next(self.tracer._ids)}-{self.layer}"
        self.tracer.sc.setJobGroup(self.group, self.layer)
        self.t0 = time.perf_counter()
        return self.counts  # the caller fills in layer-specific counts

    def __exit__(self, *exc):
        t1 = time.perf_counter()
        self.tracer.sc.setLocalProperty("spark.jobGroup.id", None)
        self.tracer.sc.setLocalProperty("spark.job.description", None)
        totals = {"layer": self.layer, "s": t1 - self.t0}
        totals.update(self.tracer._stage_totals(self.group))
        # counts stay by reference: the caller may fill them in after exit
        self.tracer.spans.append({"totals": totals, "counts": self.counts})
        return False


# --------------------------------------------------------------------------
# process tree and host
# --------------------------------------------------------------------------


def _proc_stat(pid: int):
    with open(f"/proc/{pid}/stat") as f:
        raw = f.read()
    fields = raw[raw.rindex(")") + 2:].split()
    # fields[1] = ppid, [11]/[12] = utime/stime, [21] = rss (pages)
    return int(fields[1]), int(fields[11]) + int(fields[12]), int(fields[21])


def process_tree(root: int) -> dict[int, tuple[int, int]]:
    """{pid: (cpu_ticks, rss_pages)} for ``root`` and all descendants."""
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                stats[int(name)] = _proc_stat(int(name))
            except (OSError, ValueError, IndexError):
                continue
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out[pid] = stats[pid][1:]
            todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    return sum(c for c, _ in process_tree(root).values()) / _CLK


class RssSampler:
    """Samples the RSS of the whole process tree on a thread; ``peak_mb``
    is the largest sum seen."""

    def __init__(self, root: int, every_s: float = 0.2):
        self.root, self.every_s, self.peak = root, every_s, 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while not self._stop.is_set():
            rss = sum(r for _, r in process_tree(self.root).values())
            self.peak = max(self.peak, rss)
            self._stop.wait(self.every_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        return False

    @property
    def peak_mb(self) -> float:
        return self.peak * _PAGE / MB


def host_snapshot() -> dict:
    """Cumulative steal seconds and the load average, for the raw output."""
    with open("/proc/stat") as f:
        cpu = f.readline().split()
    return {"steal_s": int(cpu[8]) / _CLK, "loadavg": os.getloadavg()}
