"""Layer spans and resource probes for the benchmark.

A span wraps one call into a program layer. With tracing on it runs the
call under its own Spark job group and records its wall time; after the
run, the job groups give each span its jobs, and the status store gives
the stages those jobs ran with their shuffle-write, spill and CPU
figures (the same numbers an event log would hold, read in process). With
tracing off a span only yields, so the untraced run pays nothing.

A span's self time is its wall time minus the spans it directly
encloses: the tip phase encloses its micro-batches' layers, and the
composer the accounting and inspector calls it makes. Jobs a parent span
ran outside its children (the stream's own source and commit jobs) carry
no job group and are found by difference.
"""

from __future__ import annotations

import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass

GROUP_KEY = "spark.jobGroup.id"


@dataclass
class Span:
    layer: str
    group: str
    start: float
    end: float = 0.0
    rows_out: int = 0


def _jiter(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self.counters: dict[str, float] = defaultdict(float)
        self._n = 0
        self._lock = threading.Lock()

    @contextmanager
    def span(self, layer: str):
        if not self.enabled:
            yield None
            return
        sc = self.spark.sparkContext
        with self._lock:
            self._n += 1
            group = f"{layer}#{self._n}"
        prev = sc.getLocalProperty(GROUP_KEY)
        sc.setJobGroup(group, layer)
        s = Span(layer, group, time.perf_counter())
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            if prev is None:
                for k in (GROUP_KEY, "spark.job.description"):
                    sc.setLocalProperty(k, None)
            else:
                sc.setJobGroup(prev, prev.split("#")[0])
            with self._lock:
                self.spans.append(s)

    def rows(self, span: Span | None, df) -> int:
        """Count a layer's materialized output, outside the layer's span."""
        if span is None:
            return 0
        n = df.count()
        span.rows_out += n
        return n

    def count(self, name: str, value: float) -> None:
        if self.enabled:
            self.counters[name] += value

    # -- report --------------------------------------------------------------

    def self_time(self, s: Span) -> float:
        """Wall time minus the spans directly enclosed (spans nest)."""
        inner = [c for c in self.spans
                 if c is not s and c.start >= s.start and c.end <= s.end]
        direct = [c for c in inner if not any(
            d is not c and d.start <= c.start and c.end <= d.end for d in inner)]
        return (s.end - s.start) - sum(c.end - c.start for c in direct)

    def self_total(self) -> float:
        return sum(self.self_time(s) for s in self.spans)

    def ungrouped_jobs(self) -> set[int]:
        return set(self.spark.sparkContext.statusTracker().getJobIdsForGroup(None))

    def report(self, layers: list[str], parent_jobs: dict[str, set[int]]) -> dict:
        """Per layer: wall_s (self time), jobs, stages, shuffle_write_bytes,
        spill_bytes, rows_out. ``parent_jobs`` adds ungrouped jobs a parent
        layer ran itself."""
        sc = self.spark.sparkContext
        tracker = sc.statusTracker()
        stages = stage_metrics(self.spark)
        per: dict[str, dict] = {
            name: dict(wall_s=0.0, jobs=0, stages=0, shuffle_write_bytes=0,
                       spill_bytes=0, rows_out=0)
            for name in layers
        }

        def add_jobs(layer: str, job_ids) -> None:
            seen = set()
            for jid in job_ids:
                info = tracker.getJobInfo(jid)
                if info is None:
                    continue
                per[layer]["jobs"] += 1
                for sid in list(info.stageIds):
                    st = stages.get(sid)
                    if sid in seen or st is None or st["status"] != "COMPLETE":
                        continue
                    seen.add(sid)
                    per[layer]["stages"] += 1
                    per[layer]["shuffle_write_bytes"] += st["shuffle_write_bytes"]
                    per[layer]["spill_bytes"] += st["spill_bytes"]

        for s in self.spans:
            if s.layer not in per:
                continue
            p = per[s.layer]
            p["wall_s"] += self.self_time(s)
            p["rows_out"] += s.rows_out
            add_jobs(s.layer, tracker.getJobIdsForGroup(s.group))
        for layer, jobs in parent_jobs.items():
            add_jobs(layer, sorted(jobs))
        return per


def stage_metrics(spark) -> dict[int, dict]:
    """Stage id -> status and task totals, from the live status store."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()  # noqa: SLF001
    no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)  # noqa: SLF001
    out = {}
    for st in _jiter(store.stageList(None, False, False, no_quantiles, None)):
        out[st.stageId()] = dict(
            status=st.status().toString(),
            shuffle_write_bytes=st.shuffleWriteBytes(),
            spill_bytes=st.memoryBytesSpilled() + st.diskBytesSpilled(),
            cpu_ns=st.executorCpuTime(),
        )
    return out


def task_cpu_s(spark) -> float:
    return sum(s["cpu_ns"] for s in stage_metrics(spark).values()) / 1e9


def jvm_gc_s(spark) -> float:
    """Total GC time of the (local-mode) driver-and-executor JVM."""
    jvm = spark.sparkContext._jvm  # noqa: SLF001
    beans = jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(b.getCollectionTime(), 0) for b in beans) / 1000.0


def cached_relations(spark) -> tuple[int, int]:
    """(cached RDDs still held, their bytes in memory and on disk)."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()  # noqa: SLF001
    n, size = 0, 0
    for info in infos:
        n += 1
        size += info.memSize() + info.diskSize()
    return n, size


# ---------------------------------------------------------------------------
# Peak RSS of the Spark JVM and its Python workers (traced runs)
# ---------------------------------------------------------------------------


def proc_tree(root: int) -> list[int]:
    """``root`` and its descendants. A child that is still a copy of the
    JVM (a fork the JVM makes to run a shell command, seen before its exec)
    shares the JVM's pages and would double its RSS: it is left out."""
    children = defaultdict(list)
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                head, tail = f.read().rsplit(")", 1)
            comm, ppid = head.split("(", 1)[1], int(tail.split()[1])
        except (OSError, IndexError, ValueError):
            continue
        if comm != "java" or int(name) == root:
            children[ppid].append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo += children.get(pid, [])
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Samples the summed RSS of a process tree on a background thread
    while ``enabled``; a disabled sampler starts no thread."""

    def __init__(self, root_pid: int, enabled: bool = True, interval: float = 0.1):
        self.root = root_pid
        self.enabled = enabled
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            # Python workers come and go: rescan the tree on every sample
            tree = proc_tree(self.root)
            self.peak_kb = max(self.peak_kb, sum(_rss_kb(p) for p in tree))
            self._stop.wait(self.interval)

    def __enter__(self):
        if self.enabled:
            self._thread.start()
        return self

    def __exit__(self, *exc):
        if self.enabled:
            self._stop.set()
            self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0
