"""stream_ingest: the reference's producer -> topic -> polling consumer,
with a directory of parquet files standing in for the Kafka topic.

Phase (a), open loop: a generator thread renames one pre-built file into
the source directory every ``1 / rate`` seconds, on a fixed schedule that
does not slow when the engine does. The engine runs
``read_event_stream -> stream_dedup -> parquet_sink`` under the default
trigger. Each file's lag runs from its due time to the commit of the
micro-batch that read it; the file -> batch map comes from the
checkpoint's source log.

Phase (b), closed loop: the same files are drained through
``freshness_delta_stream`` (availableNow) and the audit is read back with
``maintained_freshness``.

Checks, outside the timed regions: the sink holds each generated
event_id exactly once, and the audit's per-day totals equal the
generator's own tally.
"""

from __future__ import annotations

import bisect
import datetime as dt
import json
import os
import random
import statistics
import threading
import time
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
EPOCH = dt.datetime(2024, 1, 1)

# Files not committed this long after the generator stops count as failed.
COMMIT_DEADLINE_S = 15.0


# Offered load of the open loop: RATE files per second, each of
# EVENTS_PER_FILE events.
RATE = 10.0
EVENTS_PER_FILE = 100
# The open loop runs WARMUP_S before its files count as lag samples, so
# the samples see a JIT-warm engine and a steady-state dedup state.
WARMUP_S = 8.0
DUP_SHARE = 0.05
NULL_SHARE = 0.02
# Duplicates copy an event from the last DUP_FILES files, so every copy
# arrives within the watermark of its original.
DUP_FILES = 3
# How far the event clock advances per file: with the 2-hour watermark of
# stream_dedup the dedup state stops growing after about
# 2 * 120 / FILE_MINUTES files, early in the run.
FILE_MINUTES = 20
USERS = 400
MAX_FILES_PER_TRIGGER = 1000


def prebuild(seed: int, n_files: int, pending: str) -> tuple[list[str], pa.Table]:
    """Write ``n_files`` seeded event files into ``pending``; return their
    names in emission order and all their rows. Only the renames happen
    during the run."""
    rng = np.random.default_rng(seed)
    os.makedirs(pending)
    names, recent, written = [], [], []
    next_id = 1
    n = EVENTS_PER_FILE
    span_us = FILE_MINUTES * 60 * 10**6
    epoch_us = int(EPOCH.replace(tzinfo=dt.timezone.utc).timestamp()) * 10**6
    for k in range(n_files):
        n_dup = int((rng.random(n) < DUP_SHARE).sum()) if recent else 0
        n_new = n - n_dup
        values = rng.uniform(0, 500, n_new).round(2)
        table = pa.table(
            {
                "event_id": pa.array(np.arange(next_id, next_id + n_new), pa.int64()),
                "ts": pa.array(
                    epoch_us + k * span_us + rng.integers(0, span_us, n_new),
                    pa.timestamp("us"),
                ),
                "user_id": pa.array(rng.integers(0, USERS, n_new), pa.int64()),
                "event_type": pa.array(
                    np.array(EVENT_TYPES)[rng.integers(0, len(EVENT_TYPES), n_new)]
                ),
                "value": pa.array(values, mask=rng.random(n_new) < NULL_SHARE),
                "props": pa.array([f'{{"k": {v}}}' for v in rng.integers(0, 100, n_new)]),
            }
        )
        next_id += n_new
        if n_dup:
            pool = pa.concat_tables(recent)
            copies = pool.take(rng.integers(0, pool.num_rows, n_dup))
            table = pa.concat_tables([table, copies]).take(rng.permutation(n))
        recent = (recent + [table])[-DUP_FILES:]
        written.append(table)
        name = f"events-{k:05d}.parquet"
        pq.write_table(table, os.path.join(pending, name))
        names.append(name)
    return names, pa.concat_tables(written)


def _log_lines(path: str):
    with open(path) as f:
        return [json.loads(line) for line in f if line.startswith("{")]


def file_log_ids(checkpoint: str) -> dict[str, int]:
    """File name -> id of the file-source log entry that listed it, read
    from every entry of the checkpoint's source log, numbered files and
    ``N.compact`` files alike. Log ids are the source's own offsets, not
    micro-batch ids: a batch without new files (a watermark-only batch)
    advances the batch id but not the log id."""
    log_dir = os.path.join(checkpoint, "sources", "0")
    out: dict[str, int] = {}
    for entry in os.listdir(log_dir) if os.path.isdir(log_dir) else ():
        if not entry.startswith("."):
            for rec in _log_lines(os.path.join(log_dir, entry)):
                out[os.path.basename(rec["path"])] = rec["batchId"]
    return out


def committed_at(checkpoint: str, names: list[str]) -> dict[str, float]:
    """File name -> wall time the micro-batch that read it committed.

    Batch N reads the log ids in (offset(N-1), offset(N)], where offset(N)
    is the source offset in ``offsets/N``; its commit time is the mtime of
    ``commits/N``."""
    commits_dir = os.path.join(checkpoint, "commits")
    if not os.path.isdir(commits_dir):
        return {}
    ends = []  # (source offset, commit wall time), ascending by batch id
    for n in sorted(int(e) for e in os.listdir(commits_dir) if e.isdigit()):
        offset = _log_lines(os.path.join(checkpoint, "offsets", str(n)))[-1]["logOffset"]
        ends.append((offset, os.stat(os.path.join(commits_dir, str(n))).st_mtime))
    offsets = [o for o, _ in ends]
    log_ids = file_log_ids(checkpoint)
    out = {}
    for name in names:
        if name in log_ids:
            i = bisect.bisect_left(offsets, log_ids[name])
            if i < len(ends):
                out[name] = ends[i][1]
    return out


def wait_for(pred, timeout: float, poll: float = 0.05) -> bool:
    end = time.time() + timeout
    while time.time() < end:
        if pred():
            return True
        time.sleep(poll)
    return pred()


class Generator(threading.Thread):
    """Open-loop producer: renames file k into the source directory at
    ``start + k / rate``, whether or not the engine has caught up."""

    def __init__(self, pending: str, source: str, names: list[str], rate: float):
        super().__init__(name="perfbench-generator", daemon=True)
        self.pending, self.source, self.names, self.rate = pending, source, names, rate
        self.due: dict[str, float] = {}
        self.late_max_s = 0.0

    def run(self) -> None:
        start = time.time() + 0.05
        for k, name in enumerate(self.names):
            due = start + k / self.rate
            pause = due - time.time()
            if pause > 0:
                time.sleep(pause)
            os.rename(os.path.join(self.pending, name), os.path.join(self.source, name))
            self.late_max_s = max(self.late_max_s, time.time() - due)
            self.due[name] = due


class ProgressLog:
    """StreamingQueryListener that keeps every trigger's progress
    (``recentProgress`` keeps only the last 100)."""

    def __init__(self):
        from pyspark.sql.streaming import StreamingQueryListener

        log = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                log.progress.append(json.loads(event.progress.json))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.progress: list[dict] = []
        self.listener = _Listener()


def trigger_counters(progress: list[dict]) -> dict[str, float]:
    """Per-trigger medians and state size over triggers that read data."""
    busy = [p for p in progress if p.get("numInputRows", 0) > 0]

    def med(key_fn) -> float:
        vals = [key_fn(p) for p in busy]
        return float(statistics.median(vals)) if vals else 0.0

    def dur(p, *keys) -> float:
        return sum(p["durationMs"].get(k, 0) for k in keys)

    def state(p, key) -> float:
        return sum(op.get(key, 0) for op in p.get("stateOperators", []))

    return {
        "streaming.triggers": float(len(busy)),
        "streaming.trigger_ms": med(lambda p: dur(p, "triggerExecution")),
        "streaming.add_batch_ms": med(lambda p: dur(p, "addBatch")),
        "streaming.planning_ms": med(lambda p: dur(p, "queryPlanning")),
        "streaming.log_ms": med(lambda p: dur(p, "walCommit", "commitOffsets")),
        "streaming.offsets_ms": med(lambda p: dur(p, "latestOffset", "getBatch")),
        "streaming.state_commit_ms": med(lambda p: state(p, "commitTimeMs")),
        "streaming.state_rows": max((state(p, "numRowsTotal") for p in busy), default=0.0),
        "streaming.state_mem_bytes": max(
            (state(p, "memoryUsedBytes") for p in busy), default=0.0
        ),
    }


def backlog_max(due: dict[str, float], done: dict[str, float]) -> int:
    """Most files emitted but not yet committed at any emission time."""
    events = sorted(
        [(t, 1) for t in due.values()] + [(t, -1) for t in done.values()]
    )
    level = peak = 0
    for _, step in events:
        level += step
        peak = max(peak, level)
    return peak


def sink_errors(ids: list[int], events: pa.Table) -> list[str]:
    """The dedup sink must hold every generated event_id exactly once."""
    want = sorted(pc.unique(events["event_id"]).to_pylist())
    if sorted(ids) == want:
        return []
    return [
        f"sink holds {len(ids)} rows / {len(set(ids))} ids, "
        f"generator emitted {len(want)} distinct ids"
    ]


def audit_errors(rows, events: pa.Table) -> list[str]:
    """The maintained freshness audit must equal the generator's own
    per-day tally: rows, distinct users and the null-value rate."""
    days = events.append_column("day", pc.cast(events["ts"], pa.date32()))
    tally = days.group_by("day").aggregate(
        [("event_id", "count"), ("value", "count"), ("user_id", "count_distinct")]
    )
    want = {
        r["day"]: (n, r["user_id_count_distinct"], 1.0 - r["value_count"] * 1.0 / n)
        for r in tally.to_pylist()
        for n in [r["event_id_count"]]
    }
    have = {r["day"]: (r["n_rows"], r["n_users"], r["null_value_rate"]) for r in rows}
    if have == want:
        return []
    wrong = sorted(d for d in set(have) | set(want) if have.get(d) != want.get(d))
    return [f"audit {d}: {have.get(d)} != generated {want.get(d)}" for d in wrong]


@dataclass
class Staged:
    pending: str
    names: list[str]
    events: pa.Table


def stager(work: str, seed: int, seconds: float):
    """Set-up step: pre-build the seeded files for warm-up, the measured
    window and file 0, which is in place before the query starts."""
    n_files = 1 + round(RATE * (WARMUP_S + seconds))

    def stage(k: int) -> Staged:
        pending = os.path.join(work, f"pending-{k}")
        names, events = prebuild(seed, n_files, pending)
        return Staged(pending, names, events)

    return stage


def _stop_when_idle(query) -> None:
    """Stop a query between triggers, so no batch is cut off mid-write."""
    wait_for(lambda: not query.status["isTriggerActive"], 5.0)
    query.stop()


def open_loop(spark, staged: Staged, work: str, tracer):
    """Phase (a). Returns (lags of the measured files, result dict)."""
    from spring_and_kafka_spark.streaming.replay import read_event_stream
    from spring_and_kafka_spark.streaming.sinks import parquet_sink
    from spring_and_kafka_spark.streaming.windows import stream_dedup

    from perfbench import status

    source, out, ckpt = (os.path.join(work, d) for d in ("source", "dedup-out", "dedup-ckpt"))
    os.makedirs(source)
    first, rest = staged.names[0], staged.names[1:]
    os.rename(os.path.join(staged.pending, first), os.path.join(source, first))
    with tracer.span("streaming.start", "open_loop"):
        events = read_event_stream(spark, source, MAX_FILES_PER_TRIGGER)
        query = parquet_sink(stream_dedup(events), out, ckpt).start()
    errors = []
    if not wait_for(lambda: committed_at(ckpt, [first]), 60.0):
        errors.append("first micro-batch did not commit within 60 s")
    since_ms = int(time.time() * 1000)
    gen = Generator(staged.pending, source, rest, RATE)
    with tracer.span("streaming.open_loop", "open_loop"):
        gen.start()
        gen.join()
        all_in = wait_for(lambda: len(committed_at(ckpt, rest)) == len(rest), COMMIT_DEADLINE_S)
    if all_in:
        query.processAllAvailable()
    _stop_when_idle(query)
    until_ms = time.time() * 1000
    done = committed_at(ckpt, rest)
    missing = [n for n in rest if n not in done]
    if missing:
        errors.append(f"{len(missing)} files not committed {COMMIT_DEADLINE_S} s after the last rename")
    measured = rest[round(RATE * WARMUP_S) :]
    lags = sorted(done[n] - gen.due[n] for n in measured if n in done)

    with tracer.span("sinks.check", "open_loop"):
        ids = sorted(r[0] for r in spark.read.parquet(out).select("event_id").collect())
    errors += sink_errors(ids, staged.events)
    stages = status.completed_stages(spark, since_ms, until_ms)
    ops = [o for _, o in status.sql_executions(spark, since_ms, until_ms)]
    jobs = [j for j in status.jobs(spark) if since_ms <= j.submitted_ms <= until_ms]
    layers = status.layer_counters(spark, stages, ops)
    cores = spark.sparkContext.defaultParallelism
    result = {
        "errors": errors,
        "attempted": len(rest),
        "failed_files": len(missing),
        "query_id": str(query.runId),
        "layers": {
            **layers,
            "executor.busy_share": layers["executor.run_s"] / ((until_ms - since_ms) / 1e3 * cores),
            "spark.jobs": len(jobs),
            "streaming.backlog_files_max": backlog_max(gen.due, done),
            "streaming.gen_late_max_s": gen.late_max_s,
            "streaming.lag_samples": len(lags),
        },
    }
    return lags, result


def drain(spark, source: str, state_dir: str, events: pa.Table, tracer):
    """Phase (b): availableNow drain of the source files into the
    freshness audit, then the merged read. Returns timings and errors."""
    from spring_and_kafka_spark.streaming.freshness import (
        freshness_delta_stream,
        maintained_freshness,
    )
    from spring_and_kafka_spark.streaming.replay import read_event_stream

    from perfbench import status

    since_ms = int(time.time() * 1000)
    trace_id = os.path.basename(state_dir)
    with tracer.span("sinks.drain", trace_id):
        t0 = time.perf_counter()
        stream = read_event_stream(spark, source, MAX_FILES_PER_TRIGGER)
        query = freshness_delta_stream(stream, state_dir)
        query.awaitTermination()
        drain_s = time.perf_counter() - t0
    until_ms = time.time() * 1000
    with tracer.span("sinks.merge_read", trace_id):
        t0 = time.perf_counter()
        rows = maintained_freshness(spark, state_dir).collect()
        merge_read_s = time.perf_counter() - t0
    cpu_s = sum(st.cpu_s for st in status.completed_stages(spark, since_ms, until_ms))
    errors = audit_errors(rows, events)
    return {
        "drain_s": drain_s,
        "merge_read_s": merge_read_s,
        "cpu_s": cpu_s,
        "errors": errors,
        "query_id": str(query.runId),
    }


def run(spark, staged: Staged, work: str, seed: int, tracer) -> dict:
    """Both phases. The first drain gives the end-to-end numbers; with
    tracing, a traced and an untraced drain follow in seeded order and
    their difference is the listener's and spans' overhead."""
    from perfbench import status

    progress = ProgressLog() if tracer.enabled else None
    if progress:
        spark.streams.addListener(progress.listener)
    t0 = time.perf_counter()
    lags, a = open_loop(spark, staged, work, tracer)
    t1 = time.perf_counter()
    if progress:
        spark.streams.removeListener(progress.listener)

    source = os.path.join(work, "source")
    quiet = status.Tracer(enabled=False)
    b = drain(spark, source, os.path.join(work, "fresh-0"), staged.events, quiet)
    out = {
        "phases": {"open_loop_s": t1 - t0, "drain_s": time.perf_counter() - t1},
        "attempted": a["attempted"] + 1,
        "errors": a["errors"] + b["errors"],
        "metrics": {"pass_s": b["drain_s"], "cpu_s": b["cpu_s"]},
        "lags": lags,
        "detail": {"phase_a": a, "drain": b},
    }
    if progress:
        drains = {}
        for mode in random.Random(seed).sample([quiet, tracer], 2):
            if mode.enabled:
                spark.streams.addListener(progress.listener)
            state_dir = os.path.join(work, f"fresh-{len(drains) + 1}")
            drains[mode.enabled] = drain(spark, source, state_dir, staged.events, mode)
            if mode.enabled:
                status.drain_listener_bus(spark)
                spark.streams.removeListener(progress.listener)
        out["attempted"] += 2
        out["errors"] += drains[True]["errors"] + drains[False]["errors"]
        open_progress = [p for p in progress.progress if p["runId"] == a["query_id"]]
        for p in open_progress:
            start = dt.datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
            end = start + p["durationMs"].get("triggerExecution", 0) / 1e3
            tracer.record("streaming.trigger", f"trigger:{p['batchId']}", start, end)
        out["layers"] = {
            **a["layers"],
            **trigger_counters(open_progress),
            "sinks.drain_s": b["drain_s"],
            "sinks.drain_events_per_s": staged.events.num_rows / b["drain_s"],
            "sinks.merge_read_s": b["merge_read_s"],
            "trace.overhead_s": drains[True]["drain_s"] - drains[False]["drain_s"],
        }
        out["detail"]["progress"] = progress.progress
    return out

