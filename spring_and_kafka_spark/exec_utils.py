"""Execution utilities shared across operators.

`materialize` is the engine's one sanctioned way to cut lineage and force
a DataFrame to compute exactly once (iterative algorithms, multi-consumer
subplans). It picks the mechanism by deployment:

- local master → ``localCheckpoint(eager=True)``: blocks live in the one
  local JVM, which is also the driver — nothing can lose them.
- cluster with a checkpoint dir configured → reliable ``checkpoint``:
  executor-local blocks do NOT survive executor loss, and for an
  iterative job losing round k's state means recomputing k rounds; the
  reliable checkpoint writes to the fault-tolerant FS instead.
- cluster without a checkpoint dir → ``persist(MEMORY_AND_DISK)`` + a
  forcing count: keeps lineage (recompute on executor loss is slow but
  correct) rather than risking irrecoverable localCheckpoint blocks.

`fixed_point` is the one driver for loops that iterate to convergence
(graph CC, k-core, BFS, LPA, dedup connected components), and
`message_edges` builds the edge table those loops send messages over.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel


def ts_micros(col: Column | str) -> Column:
    """Epoch microseconds from a timestamp column, safe for BOTH
    ``TIMESTAMP`` (LTZ) and ``TIMESTAMP_NTZ`` inputs.

    ``F.unix_micros`` rejects NTZ outright — and the fixture parquet's
    ``TIMESTAMP(NANOS)`` column reads as NTZ on stock sessions (the
    round-3 driver crash on q_stream_session). ``to_utc_timestamp(c,
    'UTC')`` interprets an NTZ wall-time as UTC — exactly the stored
    parquet value, independent of the session timezone — and is a no-op
    for LTZ under the UTC sessions this engine always builds
    (session.py). The result is the raw integer DuckDB's ``epoch_us``
    sees, so oracle comparisons stay exact."""
    return F.unix_micros(F.to_utc_timestamp(col, "UTC"))


def cents(col: Column | str) -> Column:
    """Exact integer cents from a money double: floor(x*100 + 0.5) as
    BIGINT — the repo's ONE cross-engine rounding rule for currency
    (Spark round() is decimal HALF_UP, DuckDB rounds binary; this form
    is bit-identical in both). Every operator that sums or ranks money
    must use this helper, not a hand-copied expression: four inline
    copies had already drifted into existence by round 6, and a future
    edit to one of them would silently diverge the others' oracle
    hashes. sketches.to_cents wraps the same rule at DataFrame level."""
    c = F.col(col) if isinstance(col, str) else col
    return F.floor(c * 100 + F.lit(0.5)).cast("long")


def micros(col: Column | str) -> Column:
    """Exact integer micro-units from a measure double: floor(x*1e6+0.5)
    as BIGINT — the cents rule at 1e-6 resolution, used wherever a
    non-currency measure must aggregate/percentile order-free
    (q_ts_mad/q_ts_anomaly established the pattern; the r12 review
    counted ~8 hand-copied instances across timeseries.py/windows.py,
    the same drift hazard cents() was extracted to kill). New operators
    must call this; the pre-r12 inline copies are expression-identical
    and scheduled to migrate as their queries rotate through the
    verification window."""
    c = F.col(col) if isinstance(col, str) else col
    return F.floor(c * 1e6 + F.lit(0.5)).cast("long")


def finite_or_null(df: DataFrame, *cols: str) -> DataFrame:
    """Normalize NaN and ±Infinity in the named double columns to NULL —
    the ingest-boundary enforcement of the engine's float contract:
    downstream operators consume FINITE-OR-NULL doubles only.

    Why a contract instead of 226 NaN-hardened queries: a NaN-injection
    diagnostic (round 9, NANCHECK.json) failed 39 of 226 queries, and
    the failure modes are not guardable cross-engine — ANSI Spark and
    DuckDB both hard-error casting NaN to BIGINT (every exact-cents
    expression), stddev aggregates range-error, and the engines disagree
    on NaN grouping/ordering (Spark groups NaNs equal and sorts them
    greatest; DuckDB's aggregates poison to NaN instead). NULL, by
    contrast, has fully specified cross-engine semantics that the
    NULLCHECK battery (tools/null_sweep.py) proves all 226 queries
    handle. So the boundary rule is: run this normalizer (or quarantine
    on it) when ingesting any external double column; inside the engine,
    NaN does not exist.

    At 100 TB this is one narrow projection fused into the ingest scan —
    no shuffle, no extra pass. It is also ONE projection in the logical
    plan, not a per-column withColumn chain: the r11 interleaved A/B
    traced the contract's whole bench cost to DRIVER-SIDE plan analysis
    of the deeper tree (executor time was identical with the contract
    on or off once the plan was built), and collapsing the chain into a
    single withColumns halves that analysis overhead (BASELINE.md r11
    adjudication row)."""

    def norm(c: str):
        col = F.col(c)
        return F.when(
            F.isnan(col) | (F.abs(col) == float("inf")),
            F.lit(None).cast("double"),
        ).otherwise(col)

    return df.withColumns({c: norm(c) for c in cols})


def materialize(df: DataFrame) -> DataFrame:
    """Compute `df` once and return a lineage-cut (or at least pinned)
    DataFrame, safe for the current deployment mode. See module doc."""
    sc = df.sparkSession.sparkContext
    if sc.master.startswith("local"):
        return df.localCheckpoint(eager=True)
    if sc.getCheckpointDir() is not None:
        return df.checkpoint(eager=True)
    pinned = df.persist(StorageLevel.MEMORY_AND_DISK)
    pinned.count()
    return pinned


def spread(df: DataFrame) -> DataFrame:
    """Raise a starved plan to the session's default parallelism before
    CPU-heavy per-row work (shingling, hashing, wide aggregation).

    Small inputs scan into one or two splits (a 10k-doc fixture parquet
    is a single file well under maxPartitionBytes), so everything
    downstream of the scan runs on 1-2 of the session's cores. At real
    scale the scan already yields ≥ cores splits and this is a no-op —
    the repartition only fires when the current partition count is below
    defaultParallelism, so it never ADDS a shuffle on a 100 TB input.
    Row order changes; callers must be order-insensitive (per-key
    aggregation, joins) — every caller here is."""
    sc = df.sparkSession.sparkContext
    if df.rdd.getNumPartitions() < sc.defaultParallelism:
        return df.repartition(sc.defaultParallelism)
    return df


def sym_edges(eh: DataFrame) -> DataFrame:
    """(src, dst) symmetric directed edges from a (u, v) undirected
    edge table: each row exploded into both directions in ONE pass.
    A unionByName of two projections of ``eh`` would, on an
    UNMATERIALIZED eh, plan the whole edge-build subtree once per union
    side."""
    return eh.select(
        F.explode(
            F.array(
                F.struct(F.col("u").alias("src"), F.col("v").alias("dst")),
                F.struct(F.col("v").alias("src"), F.col("u").alias("dst")),
            )
        ).alias("e")
    ).select("e.src", "e.dst")


def message_edges(eh: DataFrame, nodes: DataFrame) -> DataFrame:
    """Materialized (src, dst, w) message table for a fixed-point loop:
    w = 1 for both directions of every (u, v) edge of ``eh``, plus one
    w = 0 SELF-LOOP per row of ``nodes`` (column ``node``).

    The self-loop delivers a node's own state as a message, so a round
    is one join + one aggregate over the messages alone, with no
    join-back onto the state frame, and the state frame enters each
    round's plan exactly once (plan depth stays linear in the block).
    A union of the state rows into the aggregate computes the same
    value but plants a Union inside the iterated plan, which trips
    Spark 4.1.2's UnionBase.rewriteConstraints on some input shapes
    (java.util.NoSuchElementException: key not found, reproduced in
    tests/test_dedup.py's path-graph fixture). The one Union here sits
    inside the materialize and executes exactly once. The w = 0 rows
    are exactly the node set, so round 0 is a filter of this table."""
    return materialize(
        sym_edges(eh)
        .select("src", "dst", F.lit(1).cast("long").alias("w"))
        .unionByName(
            nodes.select(
                F.col("node").alias("src"),
                F.col("node").alias("dst"),
                F.lit(0).cast("long").alias("w"),
            )
        )
    )


def fixed_point(
    state: DataFrame,
    step: Callable[..., DataFrame],
    *,
    block: int,
    max_rounds: int,
) -> tuple[DataFrame, bool]:
    """Iterate ``step`` from ``state`` for at most ``max_rounds`` rounds,
    stopping early at a fixed point. Returns ``(iterate, converged)``.

    Rounds are built lazily in blocks of ``block`` (the last block may
    be shorter); ``step(df, first=..., last=...)`` builds one round and
    learns where it sits in its block. The last round's frame must carry
    a boolean ``_ch`` column, true on rows whose state that round (or,
    for a caller that compares the whole block, that block) changed.
    Per block the helper materializes the last round once, runs ONE
    probe job (``filter(_ch).limit(1).count()``), unpersists the frame
    it materialized for the previous block (on materialize's persist
    fallback the loop would otherwise keep one cached copy per block;
    ``state`` itself is the caller's and is never touched) and continues
    from the new frame without ``_ch``. A block whose probe finds
    nothing ends the loop: for a monotone update, a round that changed
    nothing proves its input was already a fixed point, and rounds run
    past a mid-block fixed point are no-ops, so the early-stopped
    iterate equals the ``max_rounds`` unroll the oracles compute.

    There is no cap policy here. ``converged`` is False when
    ``max_rounds`` ran out with the last round still changing; the
    iterate is then exactly the ``max_rounds``-round one, and each
    caller decides whether to return it or fail."""
    prev = None
    done = 0
    while done < max_rounds:
        n = min(block, max_rounds - done)
        for i in range(n):
            state = step(state, first=i == 0, last=i == n - 1)
        new = materialize(state)
        changed = new.filter(F.col("_ch")).limit(1).count()
        if prev is not None:
            prev.unpersist()
        prev, state = new, new.drop("_ch")
        done += n
        if changed == 0:
            return state, True
    return state, False
