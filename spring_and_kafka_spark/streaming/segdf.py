"""Incrementally-maintained segment document-frequency state — the
ingest-side twin of llm/dedup.py::q_dedup_seg_df_hist, completing the
segment-dedup family's streaming story: templates.py maintains the
cross-SOURCE template table, this maintains the per-SEGMENT df state the
threshold-calibration histogram (and any df-thresholded excision pass)
reads.

Two mergeable partial tables per micro-batch, kept under the
merge-on-read contract of DESIGN.md §17 (counters merge by sum,
distincts by presence-key union):

- ``inst``:     (seg, n) segment-instance sums — a batch of millions of
  docs lands as one row per touched segment, map-side combined;
- ``presence``: distinct (seg, doc_id) rows — bounded by touched
  (segment, doc) pairs per batch, never by instance volume. df is NOT a
  foldable counter (a doc re-seen in a later batch must count once), so
  the flag derives on read from the presence keys — the same
  simplification the templates maintainer uses for its distinct-source
  flag. At web scale this is the table to sketch (HLL); kept exact so
  stream ≡ batch is bit-testable.

Read-time ``maintained_seg_df_hist`` reproduces q_dedup_seg_df_hist's
output EXACTLY (same segment builder — llm.text.boilerplate_segments —
same NULL-doc_id scan exclusion, same bit-length buckets, same
floor-form share), asserted to bit-equality after a full replay in
tests/test_streaming_advanced.py.

Delivery contract: exactly-once per checkpointed document for the
instance sums; the presence-derived df additionally tolerates a
re-delivered document by construction.

Reference parity anchor: no streaming-curation surface in the reference
(src/main/java/jc/DemoApplication.java is a Kafka pipe) — part of the
beyond-the-reference LLM-data family, composed from the reference's [R]
stream-pipe shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from spring_and_kafka_spark.llm.text import boilerplate_segments
from spring_and_kafka_spark.streaming.sinks import (
    partial_state_stream,
    read_partial_state,
)

_TABLES = {
    "inst": (
        "seg STRING, n BIGINT",
        lambda seg: seg.groupBy("seg").agg(F.count(F.lit(1)).alias("n")),
    ),
    "presence": ("seg STRING, doc_id BIGINT", lambda seg: seg.distinct()),
}


def seg_df_delta_stream(docs: DataFrame, state_dir: str):
    """Fold a document stream into per-batch segment-df partials under
    ``state_dir`` (availableNow trigger — drains the staged corpus then
    stops, the replay harness convention). NULL doc_id rows are
    excluded exactly as the batch query's scan excludes them."""
    return partial_state_stream(
        docs,
        state_dir,
        _TABLES,
        prep=lambda b: boilerplate_segments(
            b.filter(F.col("doc_id").isNotNull())
        ).select("seg", "doc_id"),
    )


def maintained_seg_df_hist(spark: SparkSession, state_dir: str) -> DataFrame:
    """Current df histogram from the accumulated partials —
    column-identical to q_dedup_seg_df_hist's batch output.

    The presence columns are projected BEFORE the distinct-count (the
    templates.py batch_id-partition-column lesson: partitioned reads
    append batch_id even when the user schema omits it, and a distinct
    keyed on it would double-count a (seg, doc) pair re-seen in a later
    batch); instance counts merge by sum. Torn state raises
    (read_partial_state)."""
    inst, presence = read_partial_state(spark, state_dir, _TABLES, "seg-df")
    f = (
        presence.select("seg", "doc_id")
        .groupBy("seg")
        .agg(F.count_distinct("doc_id").alias("df"))
        .join(
            inst.groupBy("seg").agg(F.sum("n").alias("inst")),
            "seg",
        )
    )
    h = f.groupBy(
        (F.length(F.bin(F.col("df"))) - 1).cast("long").alias("bucket")
    ).agg(
        F.count(F.lit(1)).alias("n_segments"),
        F.sum("inst").alias("n_instances"),
    )
    w = h.select(
        "bucket",
        "n_segments",
        "n_instances",
        F.sum("n_instances").over(W.partitionBy()).alias("total"),
    )
    return w.select(
        "bucket",
        F.expr("shiftleft(1L, cast(bucket AS INT))").alias("lo"),
        F.expr("shiftleft(1L, cast(bucket AS INT) + 1) - 1L").alias("hi"),
        "n_segments",
        "n_instances",
        (
            F.floor(F.col("n_instances") * 1e6 / F.col("total") + F.lit(0.5))
            / 1e6
        ).alias("inst_share"),
    )
