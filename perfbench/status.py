"""Readers for Spark's own status stores, plus the benchmark's span log.

Everything here runs outside the timed regions. The readers go through
py4j to the driver JVM:

- ``SparkContext.statusStore()``: jobs, stages and tasks (run and CPU
  time, shuffle bytes, spill, input);
- ``SharedState.statusStore()``: per-operator SQL metrics (broadcast data
  size and build time, aggregation peak memory);
- ``QueryExecution.tracker()``: analysis and planning time of a query.

The stores are filled by Spark's listener bus on its own thread, so every
harvest first waits for the bus to drain.
"""

from __future__ import annotations

import re
import statistics
import time
from dataclasses import dataclass, field

_BYTE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME_UNITS = {"ms": 1.0, "s": 1e3, "m": 60e3, "h": 3600e3}
_METRIC_VALUE = re.compile(r"(-?[\d.,]+)\s*([A-Za-z]+)")


@dataclass
class Stage:
    stage_id: int
    name: str
    submitted_ms: int
    tasks: int
    run_s: float
    cpu_s: float
    gc_s: float
    input_bytes: int
    input_rows: int
    shuffle_read_bytes: int
    shuffle_write_bytes: int
    fetch_wait_s: float
    spill_bytes: int


@dataclass
class Job:
    group: str | None
    submitted_ms: int
    completed_ms: int | None
    stage_ids: list[int]


@dataclass
class SqlOps:
    """Per-operator SQL metrics summed over executions."""

    broadcast_bytes: int = 0
    broadcast_build_ms: float = 0.0
    agg_peak_mem_bytes: int = 0


def drain_listener_bus(spark) -> None:
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def completed_stages(spark, since_ms: int, until_ms: float = float("inf")) -> list[Stage]:
    """Completed stages submitted between ``since_ms`` and ``until_ms``
    (epoch ms)."""
    drain_listener_bus(spark)
    store = spark.sparkContext._jsc.sc().statusStore()
    complete = spark._jvm.java.util.ArrayList()
    complete.add(spark._jvm.org.apache.spark.status.api.v1.StageStatus.COMPLETE)
    no_quantiles = spark.sparkContext._gateway.new_array(spark._jvm.double, 0)
    seq = store.stageList(
        complete, False, False, no_quantiles, spark._jvm.java.util.ArrayList()
    )
    out = []
    it = seq.iterator()
    while it.hasNext():
        s = it.next()
        sub = s.submissionTime()
        submitted = sub.get().getTime() if sub.isDefined() else 0
        if not since_ms <= submitted <= until_ms:
            continue
        out.append(
            Stage(
                stage_id=s.stageId(),
                name=s.name(),
                submitted_ms=submitted,
                tasks=s.numCompleteTasks(),
                run_s=s.executorRunTime() / 1e3,
                cpu_s=s.executorCpuTime() / 1e9,
                gc_s=s.jvmGcTime() / 1e3,
                input_bytes=s.inputBytes(),
                input_rows=s.inputRecords(),
                shuffle_read_bytes=s.shuffleReadBytes(),
                shuffle_write_bytes=s.shuffleWriteBytes(),
                fetch_wait_s=s.shuffleFetchWaitTime() / 1e3,
                spill_bytes=s.memoryBytesSpilled() + s.diskBytesSpilled(),
            )
        )
    return out


def jobs(spark) -> list[Job]:
    """Every job the status store retains."""
    drain_listener_bus(spark)
    out = []
    it = spark.sparkContext._jsc.sc().statusStore().jobsList(None).iterator()
    while it.hasNext():
        j = it.next()
        group, sub, ids = j.jobGroup(), j.submissionTime(), j.stageIds()
        done = j.completionTime()
        out.append(
            Job(
                group=group.get() if group.isDefined() else None,
                submitted_ms=sub.get().getTime() if sub.isDefined() else 0,
                completed_ms=done.get().getTime() if done.isDefined() else None,
                stage_ids=[ids.apply(i) for i in range(ids.size())],
            )
        )
    return out


def task_skew(spark, stage_id: int) -> float:
    """Max over median task duration of one stage (1.0 when uniform)."""
    tasks = spark.sparkContext._jsc.sc().statusStore().taskList(stage_id, 0, 1 << 30)
    durations = []
    it = tasks.iterator()
    while it.hasNext():
        d = it.next().duration()
        if d.isDefined():
            durations.append(float(d.get()))
    med = statistics.median(durations) if durations else 0.0
    return max(durations) / med if med > 0 else 1.0


def _metric_number(text: str, units: dict[str, float]) -> float:
    """Parse one formatted SQL metric ("12.3 KiB", or the multi-line
    "total (min, med, max ...)\\n12.3 KiB (...)") into base units."""
    line = text.strip().splitlines()[-1]
    m = _METRIC_VALUE.search(line)
    if not m or m.group(2) not in units:
        return 0.0
    return float(m.group(1).replace(",", "")) * units[m.group(2)]


def sql_executions(spark, since_ms: int, until_ms: float = float("inf")) -> list[tuple[int, SqlOps]]:
    """(submission epoch ms, broadcast and aggregation operator metrics)
    of every SQL execution submitted between ``since_ms`` and ``until_ms``."""
    drain_listener_bus(spark)
    store = spark._jsparkSession.sharedState().statusStore()
    out = []
    it = store.executionsList().iterator()
    while it.hasNext():
        ex = it.next()
        if not since_ms <= ex.submissionTime() <= until_ms:
            continue
        ops = SqlOps()
        values = store.executionMetrics(ex.executionId())
        nodes = store.planGraph(ex.executionId()).allNodes().iterator()
        while nodes.hasNext():
            node = nodes.next()
            name = node.name()
            broadcast = name.startswith("BroadcastExchange")
            if not (broadcast or "HashAggregate" in name):
                continue
            metrics = node.metrics().iterator()
            while metrics.hasNext():
                m = metrics.next()
                v = values.get(m.accumulatorId())
                if not v.isDefined():
                    continue
                if broadcast and m.name() == "data size":
                    ops.broadcast_bytes += int(_metric_number(v.get(), _BYTE_UNITS))
                elif broadcast and m.name() == "time to build":
                    ops.broadcast_build_ms += _metric_number(v.get(), _TIME_UNITS)
                elif m.name() == "peak memory":
                    ops.agg_peak_mem_bytes = max(
                        ops.agg_peak_mem_bytes, int(_metric_number(v.get(), _BYTE_UNITS))
                    )
        out.append((ex.submissionTime(), ops))
    return out


def layer_counters(spark, stages: list[Stage], ops: list[SqlOps]) -> dict[str, float]:
    """Scheduler, executor, source, shuffle, checkpoint and operator
    counters of one unit of work (a query run or a stream phase)."""
    run = sum(st.run_s for st in stages)
    cpu = sum(st.cpu_s for st in stages)
    ckpt = [st for st in stages if st.name.startswith("localCheckpoint")]
    longest = max(stages, key=lambda st: st.run_s, default=None)
    return {
        "spark.stages": len(stages),
        "spark.tasks": sum(st.tasks for st in stages),
        "executor.run_s": run,
        "executor.cpu_s": cpu,
        "executor.gc_s": sum(st.gc_s for st in stages),
        "executor.wait_s": run - cpu,
        "sources.input_bytes": sum(st.input_bytes for st in stages),
        "sources.input_rows": sum(st.input_rows for st in stages),
        "shuffle.write_bytes": sum(st.shuffle_write_bytes for st in stages),
        "shuffle.read_bytes": sum(st.shuffle_read_bytes for st in stages),
        "shuffle.fetch_wait_s": sum(st.fetch_wait_s for st in stages),
        "shuffle.spill_bytes": sum(st.spill_bytes for st in stages),
        "shuffle.task_skew": task_skew(spark, longest.stage_id) if longest else 1.0,
        "exec_utils.ckpt_cuts": len(ckpt),
        "exec_utils.ckpt_run_s": sum(st.run_s for st in ckpt),
        "join.broadcast_bytes": sum(o.broadcast_bytes for o in ops),
        "join.broadcast_build_ms": sum(o.broadcast_build_ms for o in ops),
        "agg.peak_mem_bytes": max((o.agg_peak_mem_bytes for o in ops), default=0),
    }


def tracker_ms(df, phase: str) -> float:
    """Duration of one QueryExecution phase ("analysis", "planning", ...)
    of a DataFrame, 0 when the phase has not run."""
    phases = df._jdf.queryExecution().tracker().phases()
    return float(phases.apply(phase).durationMs()) if phases.contains(phase) else 0.0


def jvm_peak_rss_mb(spark) -> float:
    """Peak resident set (VmHWM) of the driver JVM, which in local mode
    also hosts every executor thread."""
    pid = spark._jvm.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


@dataclass
class Tracer:
    """In-memory span log: (name, start, end, parent, trace id) per call
    into a layer, written out once when the run ends."""

    enabled: bool
    spans: list[dict] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)

    def span(self, name: str, trace_id: str):
        return _Span(self, name, trace_id)

    def record(self, name: str, trace_id: str, start: float, end: float) -> None:
        """A span measured elsewhere (a streaming trigger's progress)."""
        if self.enabled:
            self.spans.append(
                {"id": len(self.spans), "name": name, "trace": trace_id,
                 "parent": None, "start": start, "end": end}
            )


class _Span:
    def __init__(self, tracer: Tracer, name: str, trace_id: str):
        self.tracer, self.name, self.trace_id = tracer, name, trace_id

    def __enter__(self):
        t = self.tracer
        if t.enabled:
            self.idx = len(t.spans)
            t.spans.append(
                {
                    "id": self.idx,
                    "name": self.name,
                    "trace": self.trace_id,
                    "parent": t._stack[-1] if t._stack else None,
                    "start": time.time(),
                    "end": None,
                }
            )
            t._stack.append(self.idx)
        return self

    def __exit__(self, *exc):
        t = self.tracer
        if t.enabled:
            t.spans[self.idx]["end"] = time.time()
            t._stack.pop()
        return False
