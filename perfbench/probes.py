"""What the benchmark reads from outside the pipeline: machine state,
CPU time of its process tree, Spark's cost counters, the JVM's peak RSS,
and an in-memory span tracer that wraps the pipeline's public functions
during a traced run."""

from __future__ import annotations

import contextlib
import itertools
import os
import threading
import time
from collections import defaultdict

from py4j.protocol import Py4JJavaError


def java_processes() -> int:
    """Live processes whose command name is ``java``."""
    n = 0
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/comm") as f:
                n += f.read().strip() == "java"
        except OSError:
            continue
    return n


def machine_state() -> dict:
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "loadavg": [round(x, 2) for x in os.getloadavg()],
        "java_procs": java_processes(),
    }


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds (user + system, with reaped children) of process
    ``root`` and every live descendant: the benchmark's interpreter, the
    Spark JVM it launched and the JVM's Python workers. Unlike wall time
    it does not count time other tenants of the machine hold the cores."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = defaultdict(list)
    ticks: dict[int, int] = {}
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        children[int(fields[1])].append(int(pid))
        ticks[int(pid)] = sum(int(x) for x in fields[11:15])
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo += children.get(pid, [])
    return total / os.sysconf("SC_CLK_TCK")


@contextlib.contextmanager
def cost(counters: SparkCounters | None = None):
    """Wall and CPU seconds of the block, and Spark's counters diffed
    across it when ``counters`` is given; the yielded dict is filled in
    when the block ends."""
    out: dict = {}
    before = counters.snapshot() if counters is not None else None
    cpu0 = tree_cpu_s()
    out["start"] = time.perf_counter()
    yield out
    out["wall_s"] = time.perf_counter() - out["start"]
    out["cpu_s"] = tree_cpu_s() - cpu0
    if before is not None:
        out["spark"] = counters.diff(before, counters.snapshot())


def peak_rss_mb(pid: int) -> float:
    """High-water resident set size (``VmHWM``) of process ``pid``."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


class SparkCounters:
    """Spark-side cost read through py4j and diffed around calls: jobs
    and stages from the status store, shuffle bytes from the executor
    summary, spill from each new stage, GC time from the JVM's collector
    beans, codegen compiles and compile time from ``CodegenMetrics``."""

    def __init__(self, spark) -> None:
        jvm = spark._jvm
        self._sc = spark.sparkContext._jsc.sc()
        self._store = self._sc.statusStore()
        self._compile = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
        self._gc = list(jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans())
        self._arrays = jvm.java.util.Arrays
        self.jvm_pid = int(jvm.java.lang.ProcessHandle.current().pid())

    def snapshot(self) -> dict:
        try:
            # the status store is fed by the async listener bus
            self._sc.listenerBus().waitUntilEmpty(5000)
        except Py4JJavaError:
            pass
        hist = self._compile.getSnapshot()
        compiles = self._compile.getCount()
        # the histogram's reservoir holds every sample until it is full;
        # past that only the mean survives
        if hist.size() >= compiles:
            codegen_ms = self._arrays.stream(hist.getValues()).sum()
        else:
            codegen_ms = hist.getMean() * compiles
        executors = self._store.executorList(True)
        return {
            "jobs": self._store.jobsList(None).size(),
            "shuffle_write_bytes": sum(
                executors.apply(i).totalShuffleWrite() for i in range(executors.size())
            ),
            "gc_ms": sum(b.getCollectionTime() for b in self._gc),
            "codegen_compiles": compiles,
            "codegen_ms": float(codegen_ms),
        }

    def diff(self, before: dict, after: dict) -> dict:
        out = {k: after[k] - before[k] for k in before}
        new_jobs = out["jobs"]
        stages: set[int] = set()
        executed = 0
        if new_jobs:
            jobs = self._store.jobsList(None)  # newest first
            for i in range(new_jobs):
                job = jobs.apply(i)
                executed += job.numCompletedStages()
                ids = job.stageIds()
                stages.update(ids.apply(k) for k in range(ids.size()))
        spill = 0
        for sid in stages:
            try:
                st = self._store.lastStageAttempt(sid)
            except Py4JJavaError:
                continue
            spill += st.memoryBytesSpilled() + st.diskBytesSpilled()
        out["stages"] = executed
        out["spill_bytes"] = spill
        return out


class Tracer:
    """In-memory spans: name, start, end, parent span and operation id
    (batch call, micro-batch or query). Time spent in the tracer's own
    bookkeeping and counter reads is summed in ``overhead_s``: it is
    what a traced run adds over an untraced one."""

    def __init__(self, counters: SparkCounters | None = None) -> None:
        self.spans: list[dict] = []
        self.overhead_s = 0.0
        self.counters = counters
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, op: str | None = None, count: bool = False):
        entered = time.perf_counter()
        stack = self._stack()
        parent = stack[-1] if stack else None
        rec = {
            "id": next(self._ids),
            "name": name,
            "parent": parent["id"] if parent else None,
            "op": op if op is not None or parent is None else parent["op"],
        }
        before = self.counters.snapshot() if count and self.counters else None
        stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            if before is not None:
                rec["spark"] = self.counters.diff(before, self.counters.snapshot())
            with self._lock:
                self.spans.append(rec)
                self.overhead_s += (rec["start"] - entered) + (time.perf_counter() - rec["end"])

    def wrap(self, fn, name):
        """``fn`` recorded as a span; ``name`` may be a function of the
        call's arguments."""

        def traced(*args, **kwargs):
            label = name(*args, **kwargs) if callable(name) else name
            with self.span(label):
                return fn(*args, **kwargs)

        return traced

    def add_gap_spans(self, after: str, name: str) -> None:
        """Record as ``name`` the stretch inside each parent span from the
        end of its ``after`` child to the start of the next child (or the
        parent's end): work the pipeline does between two public calls,
        such as the count jobs after the writes."""
        by_parent = defaultdict(list)
        for s in self.spans:
            by_parent[s["parent"]].append(s)
        parents = {s["id"]: s for s in self.spans}
        for pid, kids in by_parent.items():
            if pid is None:
                continue
            kids.sort(key=lambda s: s["start"])
            for i, k in enumerate(kids):
                if k["name"] != after:
                    continue
                end = kids[i + 1]["start"] if i + 1 < len(kids) else parents[pid]["end"]
                self.spans.append(
                    {"id": next(self._ids), "name": name, "parent": pid,
                     "op": k["op"], "start": k["end"], "end": end}
                )

    def finish(self) -> list[dict]:
        """Spans with durations and self times (duration minus the part
        of the interval that child spans cover), ordered by start."""
        kids = defaultdict(list)
        for s in self.spans:
            kids[s["parent"]].append((s["start"], s["end"]))
        for s in self.spans:
            covered, cursor = 0.0, s["start"]
            for a, b in sorted(kids[s["id"]]):
                a, b = max(a, cursor), min(b, s["end"])
                if b > a:
                    covered += b - a
                    cursor = b
            s["dur_s"] = s["end"] - s["start"]
            s["self_s"] = s["dur_s"] - covered
        return sorted(self.spans, key=lambda s: s["start"])


@contextlib.contextmanager
def instrument(tracer: Tracer):
    """Wrap the pipeline's public functions with spans for the duration
    of the block: plan construction, the sink and DLQ appends, manifest
    commits, compaction, and every streaming micro-batch."""
    from pyspark.sql.streaming.readwriter import DataStreamWriter

    from fluent_plugin_opensearch_spark.plans import pipeline
    from fluent_plugin_opensearch_spark.sinks.writer import SinkCatalog
    from fluent_plugin_opensearch_spark.streaming import stream

    def append_name(df, catalog, table="sink", *a, **k):
        return "writer.append" if table == "sink" else "writer.dlq_append"

    targets = [
        (pipeline, "build", "pipeline.build"),
        (pipeline, "split_streams", "pipeline.split"),
        (pipeline, "append_to_sink", append_name),
        (pipeline, "write_metrics", "pipeline.write_metrics"),
        (stream, "build", "pipeline.build"),
        (stream, "split_streams", "pipeline.split"),
        (stream, "append_to_sink", append_name),
        (SinkCatalog, "commit", "writer.commit"),
        (SinkCatalog, "compact", "writer.compact"),
    ]
    original_fb = DataStreamWriter.foreachBatch

    def foreach_batch(self, func):
        def process(batch_df, batch_id):
            with tracer.span("microbatch", op=f"mb{batch_id}", count=True):
                return func(batch_df, batch_id)

        return original_fb(self, process)

    saved = [(owner, attr, getattr(owner, attr)) for owner, attr, _ in targets]
    try:
        for owner, attr, name in targets:
            setattr(owner, attr, tracer.wrap(getattr(owner, attr), name))
        DataStreamWriter.foreachBatch = foreach_batch
        yield tracer
    finally:
        for owner, attr, fn in saved:
            setattr(owner, attr, fn)
        DataStreamWriter.foreachBatch = original_fb
