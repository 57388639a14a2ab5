"""Batch workloads: registered queries run back to back by one client.

Each query is called through ``registry.all_specs()[name].fn`` and run
to its full result. The check pass collects every result and compares
an order-insensitive value hash with the DuckDB oracle's (expected.json);
the measured passes write the same results to the ``noop`` sink, so
Catalyst cannot prune projected work the way ``count()`` lets it.
"""

from __future__ import annotations

import hashlib
import itertools
import json
import random
import statistics
import time
from dataclasses import dataclass, field

from perfbench import status
from tools.selfcheck import row_multiset

# Relational and TPC-H shapes: many short queries, so stage scheduling,
# plan building, scans and forced broadcasts dominate.
WAREHOUSE = (
    "q_agg_group",
    "q_join_multi",
    "q_join_asof",
    "q_win_frame_rows",
    "q_pivot",
    "q_tpch_q5",
    "q_tpch_q18",
    "q_tpch_q21",
)

# The shingle / MinHash / LSH pipeline of llm/dedup.py: CPU-bound, with
# localCheckpoint cuts and the iterative connected-components loop
# (q_dedup_keep_best runs the LSH clusters of q_dedup_clusters_lsh).
DEDUP = ("q_dedup_ngram", "q_dedup_near", "q_dedup_keep_best")

# The iterative loops of operators/graph.py. Runnable by name, but not in
# the gated set: it keeps warming for several passes, so one short run
# cannot measure it steadily.
GRAPH_ITER = (
    "q_graph_cc",
    "q_graph_kcore",
    "q_graph_bfs",
    "q_graph_lpa",
    "q_graph_pagerank",
)

# "batch" is the gated workload. It holds both families because each run
# pays a fixed JVM cost (launch, then 25-30 s of cold first executions)
# that the run budget affords for two workloads only. Of the dedup family
# it keeps q_dedup_near, the shingle/MinHash/LSH path the others share.
# The single families stay runnable by name for focused A/Bs.
WORKLOADS = {
    "batch": WAREHOUSE + ("q_dedup_near",),
    "warehouse": WAREHOUSE,
    "dedup": DEDUP,
    "graph_iter": GRAPH_ITER,
}

# The measured window holds at least two passes: one pass of the batch
# workload runs about 44 Spark jobs, and the job-latency tail is steadier
# on 88 (see job_latencies).
MIN_PASSES = 2


def result_digest(columns: list[str], rows) -> dict:
    """Row count, sorted column names and an order-insensitive hash of
    the values (columns taken in name order), normalized by the same rule
    as the repo's DuckDB parity check, tools/selfcheck.py."""
    norm = row_multiset(rows, sorted(range(len(columns)), key=lambda i: columns[i]))
    return {
        "columns": sorted(columns),
        "rows": len(norm),
        "hash": hashlib.sha256(repr(norm).encode()).hexdigest(),
    }


@dataclass
class Sample:
    """One timed query: epoch start, plan built, full result written."""

    query: str
    start: float
    built: float
    end: float
    label: str = ""
    traced: bool = False
    analysis_ms: float = 0.0
    planning_ms: float = 0.0
    counters: dict[str, float] = field(default_factory=dict)

    @property
    def latency_s(self) -> float:
        return self.end - self.start


def check_pass(spark, sf_dir: str, specs, names, expected: dict) -> list[str]:
    """Run every query once to a collected result and compare it with the
    expected digest; returns one message per failed query."""
    errors = []
    for name in names:
        try:
            df = specs[name].fn(spark, sf_dir)
            got = result_digest(df.columns, df.collect())
        except Exception as exc:  # a failing query is a counted error
            errors.append(f"{name}: {type(exc).__name__}: {str(exc)[:200]}")
            continue
        if got != expected.get(name):
            errors.append(f"{name}: result {got} != expected {expected.get(name)}")
    return errors


def _timed(spark, sf_dir, fn, name, trace_id, tracer) -> Sample:
    """One query to its full result on the noop sink; with tracing, its
    jobs carry the trace id as job group and its spans are recorded."""
    sc = spark.sparkContext
    if tracer.enabled:
        sc.setJobGroup(trace_id, name)
    with tracer.span("query", trace_id):
        start = time.time()
        with tracer.span("registry.build", trace_id):
            df = fn(spark, sf_dir)
        built = time.time()
        with tracer.span("exec.action", trace_id):
            df.write.format("noop").mode("overwrite").save()
        end = time.time()
    s = Sample(name, start, built, end, label=trace_id, traced=tracer.enabled)
    if tracer.enabled:
        sc._jsc.clearJobGroup()
        s.analysis_ms = status.tracker_ms(df, "analysis")
        df._jdf.queryExecution().executedPlan()  # plan it again, off the clock
        s.planning_ms = status.tracker_ms(df, "planning")
    return s


def measure(spark, sf_dir, specs, names, rng, seconds, tracer, workload) -> list[Sample]:
    """Closed loop: whole passes over the queries, each in a new seeded
    order. The number of passes is the one whose total time comes closest
    to ``seconds``, judged by the first pass (at least MIN_PASSES), so
    every query has as many samples as every other. With tracing on, each query runs
    twice back to back, traced and untraced in seeded order, so the two
    share one JIT state and their difference is the tracing overhead."""
    quiet = status.Tracer(enabled=False)
    modes = [quiet, tracer] if tracer.enabled else [quiet]
    samples: list[Sample] = []
    passes = None
    t0 = time.time()
    for done in itertools.count(1):
        order = list(names)
        rng.shuffle(order)
        for name in order:
            for mode in rng.sample(modes, len(modes)):
                trace_id = f"{workload}:{name}:{len(samples)}"
                samples.append(_timed(spark, sf_dir, specs[name].fn, name, trace_id, mode))
        if passes is None:
            passes = max(MIN_PASSES, round(seconds / (time.time() - t0)))
        if done >= passes:
            return samples


def per_query_median(samples: list[Sample], value) -> dict[str, float]:
    by_query: dict[str, list[float]] = {}
    for s in samples:
        by_query.setdefault(s.query, []).append(value(s))
    return {q: statistics.median(v) for q, v in by_query.items()}


def pass_total(samples: list[Sample], value) -> float:
    """One pass's total of ``value``: the sum over queries of each
    query's median."""
    return sum(per_query_median(samples, value).values())


def attribute_cpu(spark, samples: list[Sample]) -> None:
    """Executor CPU seconds of the stages each sample submitted."""
    stages = status.completed_stages(spark, int(samples[0].start * 1000))
    for s in samples:
        lo, hi = s.start * 1000, s.end * 1000
        s.counters["cpu_s"] = sum(st.cpu_s for st in stages if lo <= st.submitted_ms <= hi)


def job_latencies(spark, samples: list[Sample]) -> list[float]:
    """Submission-to-completion seconds of every Spark job the samples
    submitted: the batch workloads' latency samples. Nine query runs a
    pass are too few for a tail with ten samples beyond it."""
    windows = [(s.start * 1000, s.end * 1000) for s in samples]
    return sorted(
        (j.completed_ms - j.submitted_ms) / 1e3
        for j in status.jobs(spark)
        if j.completed_ms is not None and any(lo <= j.submitted_ms <= hi for lo, hi in windows)
    )


def attribute_layers(spark, samples: list[Sample]) -> None:
    """Per-sample layer counters: stages from the sample's job group,
    SQL operator metrics from the executions it submitted."""
    since = int(samples[0].start * 1000)
    stages = {st.stage_id: st for st in status.completed_stages(spark, since)}
    executions = status.sql_executions(spark, since)
    jobs: dict[str, list[status.Job]] = {}
    for j in status.jobs(spark):
        jobs.setdefault(j.group, []).append(j)
    for s in samples:
        js = jobs.get(s.label, [])
        mine = [stages[i] for j in js for i in j.stage_ids if i in stages]
        lo, hi = s.start * 1000, s.end * 1000
        ops = [o for t, o in executions if lo <= t <= hi]
        s.counters.update(status.layer_counters(spark, mine, ops))
        s.counters["spark.jobs"] = len(js)


# Layer counters reported as the largest value in a pass, not its sum.
_MAX_COUNTERS = ("shuffle.task_skew", "agg.peak_mem_bytes")


def layer_totals(samples: list[Sample], cores: int) -> dict[str, float]:
    """Per-pass layer metrics of a traced window."""
    pass_s = pass_total(samples, lambda s: s.latency_s)
    out = {
        "registry.build_s": pass_total(samples, lambda s: s.built - s.start),
        "exec.action_s": pass_total(samples, lambda s: s.end - s.built),
        "registry.analysis_ms": pass_total(samples, lambda s: s.analysis_ms),
        "registry.planning_ms": pass_total(samples, lambda s: s.planning_ms),
    }
    for key in samples[0].counters:
        if key in _MAX_COUNTERS:
            out[key] = max(per_query_median(samples, lambda s: s.counters[key]).values())
        else:
            out[key] = pass_total(samples, lambda s: s.counters[key])
    out["executor.busy_share"] = out["executor.run_s"] / (pass_s * cores)
    return out


def query_detail(samples: list[Sample]) -> list[dict]:
    return [
        {
            "query": s.query,
            "trace": s.label,
            "traced": s.traced,
            "latency_s": s.latency_s,
            "build_s": s.built - s.start,
            "analysis_ms": s.analysis_ms,
            "planning_ms": s.planning_ms,
            **s.counters,
        }
        for s in samples
    ]


def run(spark, specs, sf_dir, workload, seed, seconds, cores, tracer, expected) -> dict:
    """Check pass (cold, collected, hash-compared), then the measured
    window; with tracing, every query in it also runs traced."""
    names = WORKLOADS[workload]
    t0 = time.perf_counter()
    # Fixed order: every seed starts its window from the same JIT state.
    errors = check_pass(spark, sf_dir, specs, names, expected)
    t1 = time.perf_counter()
    samples = measure(spark, sf_dir, specs, names, random.Random(seed), seconds, tracer, workload)
    t2 = time.perf_counter()
    plain = [s for s in samples if not s.traced]
    attribute_cpu(spark, plain)
    out = {
        "attempted": len(names) + len(samples),
        "errors": errors,
        "metrics": {
            "pass_s": pass_total(plain, lambda s: s.latency_s),
            "cpu_s": pass_total(plain, lambda s: s.counters["cpu_s"]),
        },
        "lags": job_latencies(spark, plain),
        "phases": {"check_s": t1 - t0, "window_s": t2 - t1},
    }
    if tracer.enabled:
        traced = [s for s in samples if s.traced]
        attribute_layers(spark, traced)
        out["layers"] = layer_totals(traced, cores)
        out["layers"]["trace.overhead_s"] = (
            pass_total(traced, lambda s: s.latency_s) - out["metrics"]["pass_s"]
        )
    out["detail"] = {"queries": query_detail(samples)}
    return out


def load_expected(path: str) -> dict:
    with open(path) as f:
        return json.load(f)
