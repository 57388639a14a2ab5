"""Streaming sinks (SURVEY.md §2.1/§2.8): the reference's terminal `log`
sink and per-batch callback generalized, plus the one writer and the one
reader of merge-on-read maintainer state (DESIGN.md §17).

Reference anchors: the consumer's terminal handle lambda logging each
(topic, records) entry (reference: src/main/java/jc/DemoApplication.java:154-157)
and the Spring XD `… | log` sink (reference: README.md:331,336).

A maintainer's state is declared once as a table spec: a mapping
``name -> (schema, build)``, where ``build(prepped_batch)`` returns that
table's per-batch partial. The name ``None`` is the flat one-table
layout (partials directly under the state dir); any other name nests
its partials under ``{state_dir}/{name}``. :func:`partial_state_stream`
writes the spec and :func:`read_partial_state` reads it back; no other
module knows the layout.
"""

from __future__ import annotations

import logging
from collections.abc import Callable

from pyspark.sql import DataFrame

_LOG = logging.getLogger(__name__)


def log_sink(stream_df: DataFrame, checkpoint_dir: str | None = None, num_rows: int = 20):
    """`| log`: print each micro-batch to the console (bounded rows)."""
    w = stream_df.writeStream.format("console").option("numRows", str(num_rows))
    if checkpoint_dir:
        w = w.option("checkpointLocation", checkpoint_dir)
    return w


def foreach_batch_sink(
    stream_df: DataFrame,
    fn: Callable[[DataFrame, int], None],
    checkpoint_dir: str | None = None,
):
    """The generalized per-batch handle: fn(batch_df, batch_id) runs once
    per micro-batch with a BATCH DataFrame — the escape hatch for sinks
    Spark lacks (JDBC upserts, dual-writes), with exactly-once achieved by
    making fn idempotent on batch_id."""
    w = stream_df.writeStream.foreachBatch(fn)
    if checkpoint_dir:
        w = w.option("checkpointLocation", checkpoint_dir)
    return w


def parquet_sink(stream_df: DataFrame, path: str, checkpoint_dir: str):
    """File sink with exactly-once semantics via the checkpoint WAL (the
    offset-commit analog of reference: src/main/java/jc/DemoApplication.java:144)."""
    return (
        stream_df.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint_dir)
    )


def _table_dir(state_dir: str, name: str | None) -> str:
    return state_dir if name is None else f"{state_dir}/{name}"


def partial_state_stream(
    stream_df: DataFrame,
    state_dir: str,
    tables,
    prep: Callable[[DataFrame], DataFrame] | None = None,
):
    """Run a merge-on-read maintainer over ``stream_df`` and return the
    started availableNow query, checkpointed at ``state_dir + "_ckpt"``.

    Each micro-batch applies ``prep`` (if any), builds every table of
    the ``tables`` spec from the prepped frame and overwrites that
    table's ``batch_id=N`` partition, so a replayed batch rewrites its
    own partials instead of doubling them. With more than one table the
    prepped frame feeds several writes, so it is persisted for them and
    unpersisted in ``finally`` (a failed write cannot leak it)."""
    shared = len(tables) > 1

    def on_batch(batch_df: DataFrame, batch_id: int) -> None:
        df = prep(batch_df) if prep else batch_df
        if shared:
            df.persist()
        try:
            for name, (_, build) in tables.items():
                build(df).write.mode("overwrite").parquet(
                    f"{_table_dir(state_dir, name)}/batch_id={batch_id}"
                )
        finally:
            if shared:
                df.unpersist()

    return (
        foreach_batch_sink(stream_df, on_batch, state_dir + "_ckpt")
        .trigger(availableNow=True)
        .start()
    )


def _markers_written(spark) -> bool:
    """Whether writes in this session leave ``_SUCCESS`` markers:
    Hadoop's ``mapreduce.fileoutputcommitter.marksuccessfuljobs``
    (default true), read from the Hadoop conf the write path itself
    builds (the SparkContext's conf overlaid with session confs)."""
    conf = spark._jsparkSession.sessionState().newHadoopConf()
    return conf.getBoolean("mapreduce.fileoutputcommitter.marksuccessfuljobs", True)


def _batch_partitions(spark, table_dir: str) -> tuple[set[str], set[str]]:
    """(committed, uncommitted) ``batch_id=N`` partition names under one
    state table dir, by driver-side Hadoop FS metadata listing (works on
    object stores, never a Spark job). Committed = the partition carries
    its ``_SUCCESS`` marker."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    path = jvm.org.apache.hadoop.fs.Path(table_dir)
    fs = path.getFileSystem(conf)
    done: set[str] = set()
    torn: set[str] = set()
    for st in fs.listStatus(path):
        name = st.getPath().getName()
        if not name.startswith("batch_id="):
            continue
        ok = fs.exists(
            jvm.org.apache.hadoop.fs.Path(f"{table_dir}/{name}/_SUCCESS")
        )
        (done if ok else torn).add(name)
    return done, torn


def read_partial_state(spark, state_dir: str, tables, what: str):
    """Read the state a ``tables`` spec declares: one DataFrame per
    table, in spec order (all empty when no table exists — the stream
    simply never ran). Torn state RAISES instead of being silently
    absorbed, at three levels:

    1. a table dir missing while a sibling exists — a crash between a
       batch's writes on the FIRST batch;
    2. a ``batch_id=N`` partition present under some tables only — the
       same crash on any later batch;
    3. a ``batch_id=N`` partition WITHOUT its ``_SUCCESS`` marker — a
       crash DURING that write (the dir exists from job start, so a
       bare dir-presence check passes while the data inside is
       partial).

    A one-table spec is the N=1 case: levels 1-2 are vacuous, level 3
    still applies. Level 3 applies only when the session's committer
    writes markers (:func:`_markers_written`); otherwise a marker-less
    partition counts as a batch and is logged, since a mid-write crash
    looks identical. All checks are driver-side Hadoop FS metadata
    listings (works on object stores), never a Spark job."""
    from pyspark.errors import AnalysisException

    def read_or_none(name: str | None, schema: str) -> DataFrame | None:
        try:
            return spark.read.schema(schema).parquet(_table_dir(state_dir, name))
        except AnalysisException:
            return None

    frames = {name: read_or_none(name, sch) for name, (sch, _) in tables.items()}
    present = [name for name, df in frames.items() if df is not None]
    if not present:
        return tuple(spark.createDataFrame([], sch) for sch, _ in tables.values())
    if len(present) < len(tables):
        missing = [name for name, df in frames.items() if df is None]
        raise RuntimeError(
            f"partial {what} state under {state_dir}: {present} exist "
            f"but {missing} are missing — a crash between on_batch's "
            "writes; replay the last batch or clear the state dir"
        )

    markers = _markers_written(spark)
    sets = {}
    for name in tables:
        done, torn = _batch_partitions(spark, _table_dir(state_dir, name))
        if torn and markers:
            where = "" if name is None else f" under {name}/"
            raise RuntimeError(
                f"partial {what} state under {state_dir}: "
                f"{sorted(torn)[0]}{where} has no _SUCCESS marker — a "
                "crash during that write; replay that batch or clear "
                "the state dir"
            )
        if torn:
            _LOG.warning(
                "%s state under %s: merging %d marker-less batch "
                "partition(s) (%s ...) — expected when the committer "
                "writes no _SUCCESS markers, but indistinguishable from "
                "a mid-write crash",
                what,
                _table_dir(state_dir, name),
                len(torn),
                sorted(torn)[0],
            )
        sets[name] = done | torn
    union = set().union(*sets.values())
    for name in tables:
        missing = union - sets[name]
        if missing:
            b = sorted(missing)[0]
            haves = [s for s, have in sets.items() if b in have]
            raise RuntimeError(
                f"partial {what} state under {state_dir}: {b} has "
                f"{'/, '.join(haves)}/ but not {name}/ — a crash "
                "between on_batch's writes; replay that batch or clear "
                "the state dir"
            )
    return tuple(frames.values())
