"""Streaming sink wrappers: the log/console sink, foreachBatch (the
generalized per-batch handle), the parquet sink with checkpoint, and the
merge-on-read state writer/reader."""

from __future__ import annotations

import os

import pytest
from pyspark.errors import StreamingQueryException

from spring_and_kafka_spark.sources.tables import load_table
from spring_and_kafka_spark.streaming.replay import (
    read_event_stream,
    stage_event_chunks,
)
from spring_and_kafka_spark.streaming.sinks import (
    foreach_batch_sink,
    log_sink,
    parquet_sink,
    partial_state_stream,
    read_partial_state,
)

from .conftest import SF_SMOKE


def test_foreach_batch_sees_every_batch(spark, tmp_path):
    staged = stage_event_chunks(spark, SF_SMOKE, str(tmp_path / "stage"), n_chunks=6)
    stream = read_event_stream(spark, staged, max_files_per_trigger=2)
    seen: list[tuple[int, int]] = []

    def handle(batch_df, batch_id: int) -> None:
        seen.append((batch_id, batch_df.count()))

    q = foreach_batch_sink(stream, handle).trigger(availableNow=True).start()
    q.awaitTermination()
    assert len(seen) >= 3  # 6 files / 2 per trigger
    assert sum(n for _, n in seen) == 1000  # every event delivered once
    assert [b for b, _ in seen] == sorted({b for b, _ in seen})  # ordered, unique


def test_parquet_sink_exactly_once_restart(spark, tmp_path):
    staged = stage_event_chunks(spark, SF_SMOKE, str(tmp_path / "stage2"), n_chunks=4)
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def run():
        stream = read_event_stream(spark, staged, max_files_per_trigger=2)
        q = parquet_sink(stream, out, ckpt).trigger(availableNow=True).start()
        q.awaitTermination()

    run()
    n1 = spark.read.parquet(out).count()
    run()  # restart against the same checkpoint: nothing new → no dupes
    n2 = spark.read.parquet(out).count()
    assert n1 == 1000 and n2 == 1000


def test_log_sink_drains_every_event(spark, tmp_path):
    staged = stage_event_chunks(spark, SF_SMOKE, str(tmp_path / "stage"), n_chunks=4)
    stream = read_event_stream(spark, staged, max_files_per_trigger=2)
    events = stream.select("event_id", "user_id")
    q = (
        log_sink(events, str(tmp_path / "ckpt"), num_rows=2)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert not q.isActive
    assert sum(p.numInputRows for p in q.recentProgress) == 1000


# Two tables from one prepped frame: every event id, and the distinct
# users that appear in a batch.
_TWO_TABLES = {
    "ids": ("event_id BIGINT", lambda b: b.select("event_id")),
    "users": ("user_id BIGINT", lambda b: b.select("user_id").distinct()),
}


def test_partial_state_reads_each_row_once_and_replay_overwrites(spark, tmp_path):
    staged = stage_event_chunks(spark, SF_SMOKE, str(tmp_path / "stage"), n_chunks=6)
    state = str(tmp_path / "state")
    preps: list[int] = []

    def prep(batch_df):
        preps.append(1)
        return batch_df.select("event_id", "user_id")

    def run() -> None:
        stream = read_event_stream(spark, staged, max_files_per_trigger=2)
        partial_state_stream(stream, state, _TWO_TABLES, prep=prep).awaitTermination()

    def read_ids():
        ids, users = read_partial_state(spark, state, _TWO_TABLES, "test")
        assert users.count() > 0
        return ids.select("event_id")

    run()
    ids = read_ids()
    assert ids.count() == 1000 == ids.distinct().count()
    assert len(preps) >= 3  # 6 files / 2 per trigger

    # forget the last batch's commit: the restarted query runs that
    # batch id again, and its partials overwrite their own partition
    commits = str(tmp_path / "state_ckpt" / "commits")
    last = max(int(f) for f in os.listdir(commits) if f.isdigit())
    os.remove(f"{commits}/{last}")
    os.remove(f"{commits}/.{last}.crc")
    n_before = len(preps)
    run()
    assert len(preps) == n_before + 1
    ids = read_ids()
    assert ids.count() == 1000 == ids.distinct().count()


def test_partial_state_failed_write_releases_the_cached_batch(spark, tmp_path):
    staged = stage_event_chunks(spark, SF_SMOKE, str(tmp_path / "stage"), n_chunks=2)

    def fail(_):
        raise ValueError("second table failed")

    tables = {
        "ids": ("event_id BIGINT", lambda b: b.select("event_id")),
        "boom": ("event_id BIGINT", fail),
    }
    cached = spark.sparkContext._jsc.getPersistentRDDs().size()
    stream = read_event_stream(spark, staged, max_files_per_trigger=2)
    q = partial_state_stream(
        stream, str(tmp_path / "state"), tables, prep=lambda b: b.select("event_id")
    )
    with pytest.raises(StreamingQueryException, match="second table failed"):
        q.awaitTermination()
    assert os.path.isdir(tmp_path / "state" / "ids" / "batch_id=0")
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == cached
