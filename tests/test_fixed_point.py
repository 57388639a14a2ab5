"""exec_utils.fixed_point, the one driver of the engine's convergence
loops, pinned on small in-memory graphs: the round cap, the early stop
and the unpersist rule."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from spring_and_kafka_spark import exec_utils
from spring_and_kafka_spark.exec_utils import fixed_point, message_edges


def _path_cc(spark, n):
    """Min-label propagation on the path 0-1-...-(n-1): returns the
    start labels and a step that records each (first, last) call."""
    eh = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "u long, v long"
    )
    edges = message_edges(eh, spark.range(n).withColumnRenamed("id", "node"))
    labels = edges.filter(F.col("w") == 0).select(
        F.col("src").alias("node"), F.col("src").alias("lab")
    )
    calls = []

    def step(df, first, last):
        calls.append((first, last))
        g = edges.join(df, edges.src == df.node).groupBy(
            F.col("dst").alias("node")
        )
        if not last:
            return g.agg(F.min("lab").alias("lab"))
        return g.agg(
            F.min("lab").alias("lab"),
            F.max(F.when(F.col("w") == 0, F.col("lab"))).alias("_own"),
        ).select("node", "lab", (F.col("lab") < F.col("_own")).alias("_ch"))

    return labels, step, calls


def _labels(df):
    return {r["node"]: r["lab"] for r in df.collect()}


def test_cap_returns_exact_iterate_unconverged(spark):
    # path of 10 needs 9 rounds; a cap of 5 in blocks of 2 runs 2+2+1
    labels, step, calls = _path_cc(spark, 10)
    out, converged = fixed_point(labels, step, block=2, max_rounds=5)
    assert converged is False
    assert "_ch" not in out.columns
    # after k rounds node i carries min(i, i - k) clipped at 0
    assert _labels(out) == {i: max(0, i - 5) for i in range(10)}
    assert calls == [
        (True, False), (False, True),
        (True, False), (False, True),
        (True, True),
    ]


def test_stops_after_first_quiet_block(spark):
    # path of 4 settles at round 3; round 4, the last of block 2, flags
    # nothing, so no third block is built
    labels, step, calls = _path_cc(spark, 4)
    out, converged = fixed_point(labels, step, block=2, max_rounds=20)
    assert converged is True
    assert len(calls) == 4
    assert _labels(out) == {i: 0 for i in range(4)}


def test_persist_fallback_keeps_only_returned_frame_cached(spark, monkeypatch):
    labels, step, _ = _path_cc(spark, 8)
    made = []

    def persist_materialize(df):
        # materialize's cluster-without-checkpoint-dir branch
        pinned = df.persist(StorageLevel.MEMORY_AND_DISK)
        pinned.count()
        made.append(pinned)
        return pinned

    monkeypatch.setattr(exec_utils, "materialize", persist_materialize)
    out, converged = fixed_point(labels, step, block=2, max_rounds=20)
    try:
        assert converged is True
        assert len(made) == 4  # settles at round 7, round 8 is quiet
        assert _labels(out) == {i: 0 for i in range(8)}
        cached = [m.storageLevel != StorageLevel.NONE for m in made]
        assert cached == [False, False, False, True]
    finally:
        made[-1].unpersist()
