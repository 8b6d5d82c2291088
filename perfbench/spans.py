"""In-memory spans around the calls into each engine layer, the Spark
counters (jobs, stages, tasks, shuffle, spill) of the jobs each span
launched, and process-tree CPU and memory readings.

The engine is not modified: ``Tracer.patch`` swaps the module globals
through which query functions reach ``catalog.load_table`` and through
which ``cdc.cdc_upsert_run`` reaches its source and state reader, for
wrappers that open a span and return the original result.  Jobs are
attributed with ``SparkContext.setJobGroup`` (one group per span) and
``statusTracker().getJobIdsForGroup``; per-stage counters come from the
application status store, which works with the UI disabled.
"""

from __future__ import annotations

import contextlib
import functools
import os
import re
import sys
import time
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

_EXCHANGE = re.compile(r"\b(?:Exchange|BroadcastExchange) ")

STAGE_FIELDS = (
    "executorRunTime",
    "shuffleWriteBytes",
    "diskBytesSpilled",
)


@dataclass
class Span:
    layer: str
    op: str
    parent: int | None
    start: float
    end: float = 0.0
    group: str | None = None
    counts: dict[str, float] = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Collects spans while ``enabled``; a disabled tracer is a no-op,
    so the untraced run pays nothing but the ``with`` statements."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.op = ""

    def jvm_gc_ms(self) -> int:
        """Collection time of the driver JVM so far; in local mode the
        driver JVM is also the executor."""
        beans = self.spark.sparkContext._jvm.java.lang.management.ManagementFactory
        return sum(max(b.getCollectionTime(), 0) for b in beans.getGarbageCollectorMXBeans())

    @contextlib.contextmanager
    def span(self, layer: str, jobs: bool = False, gc: bool = False):
        """Span of ``layer`` around the body.  ``jobs``: give it its own
        job group; ``gc``: record the JVM's collection time during it."""
        if not self.enabled:
            yield None
            return
        sc = self.spark.sparkContext
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        s = Span(layer, self.op, parent, time.perf_counter())
        self.spans.append(s)
        self._stack.append(sid)
        if jobs:
            s.group = f"perfbench-{sid}"
            sc.setJobGroup(s.group, f"{self.op}:{layer}")
        gc0 = self.jvm_gc_ms() if gc else 0
        try:
            yield s
        finally:
            if gc:
                s.counts["gc_ms"] = self.jvm_gc_ms() - gc0
            s.end = time.perf_counter()
            self._stack.pop()
            if jobs:
                outer = next(
                    (self.spans[i].group for i in reversed(self._stack) if self.spans[i].group),
                    None,
                )
                if outer:
                    sc.setJobGroup(outer, self.op)
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)

    def self_seconds(self, layer: str) -> float:
        """Sum over ``layer``'s spans of span time minus the time its
        direct child spans cover."""
        child: dict[int, float] = {}
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] = child.get(s.parent, 0.0) + s.seconds
        return sum(
            s.seconds - child.get(i, 0.0)
            for i, s in enumerate(self.spans)
            if s.layer == layer
        )

    def total_seconds(self, layer: str) -> float:
        return sum(s.seconds for s in self.spans if s.layer == layer)

    def count(self, layer: str, key: str | None = None) -> float:
        spans = [s for s in self.spans if s.layer == layer]
        return len(spans) if key is None else sum(s.counts.get(key, 0) for s in spans)

    # -- engine patching -------------------------------------------------

    def patch(self, module, name: str, layer: str, jobs: bool = False) -> None:
        """Wrap ``module.<name>`` (and every ``fawac_cdc_spark`` module
        that imported it by name) in a span of ``layer``."""
        orig = getattr(module, name)

        @functools.wraps(orig)
        def wrapped(*args, **kwargs):
            with self.span(layer, jobs=jobs):
                return orig(*args, **kwargs)

        for mod in list(sys.modules.values()):
            if (
                mod is not None
                and getattr(mod, "__name__", "").startswith("fawac_cdc_spark")
                and getattr(mod, name, None) is orig
            ):
                setattr(mod, name, wrapped)

    # -- Spark-side counters ---------------------------------------------

    def collect_job_counters(self) -> None:
        """Resolve every span's job group to job and stage counters.
        Called after a pass, outside its timing."""
        sc = self.spark.sparkContext
        pending = [s for s in self.spans if s.group and "jobs" not in s.counts]
        if not pending:
            return
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty(60_000)
        tracker = sc.statusTracker()
        stage_of: dict[int, Span] = {}
        for s in pending:
            job_ids = tracker.getJobIdsForGroup(s.group)
            s.counts["jobs"] = len(job_ids)
            s.counts["stages"] = 0
            for jid in job_ids:
                info = tracker.getJobInfo(jid)
                for sid in info.stageIds if info else ():
                    stage_of[sid] = s
        store = jsc.statusStore()
        gw = sc._gateway
        no_status = gw.jvm.java.util.ArrayList()
        no_quantiles = gw.new_array(gw.jvm.double, 0)
        for sid, s in stage_of.items():
            try:
                attempts = store.stageData(sid, False, no_status, False, no_quantiles)
            except Py4JJavaError:  # evicted from the status store
                continue
            for i in range(attempts.size()):
                data = attempts.apply(i)
                if data.numCompleteTasks() == 0:  # skipped: shuffle output reused
                    continue
                s.counts["stages"] += 1
                s.counts["tasks"] = s.counts.get("tasks", 0) + data.numCompleteTasks()
                for name in STAGE_FIELDS:
                    s.counts[name] = s.counts.get(name, 0) + getattr(data, name)()


def count_exchanges(plan_string: str) -> int:
    return len(_EXCHANGE.findall(plan_string))


def _process_tree(pid: int) -> list[int]:
    """``pid`` and all its live descendants."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    tree, todo = [], [pid]
    while todo:
        p = todo.pop()
        tree.append(p)
        todo.extend(children.get(p, ()))
    return tree


def peak_rss_mb(pid: int) -> float:
    """Sum of ``VmHWM`` over ``pid`` and all its descendants."""
    total_kb = 0
    for p in _process_tree(pid):
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


def cpu_seconds(pid: int) -> float:
    """User + system CPU time of ``pid`` and its descendants, including
    reaped children.  Time the hypervisor stole is not in it."""
    ticks = 0
    for p in _process_tree(pid):
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in fields[11:15])
    return ticks / os.sysconf("SC_CLK_TCK")
