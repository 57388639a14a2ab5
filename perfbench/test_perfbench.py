"""Self-test of the benchmark: a 2-query batch pass and a tiny stream.

    python3 -m pytest perfbench/ -q

Checks that every metric BENCHMARK.json names is emitted with its unit,
that a planted wrong result hash is reported as an error, and that the
file -> micro-batch mapping accounts for every file, including files
listed in a compacted source log and batches that read no file.
"""

from __future__ import annotations

import json
import os
import sys
import types

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import batch, run, status, stream_ingest  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)


def _units(section: str) -> dict[str, str]:
    return {m["name"]: m["unit"] for m in BENCH[section]}


def _write(path: str, lines: list[str]) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")


def test_committed_at_reads_compact_logs_and_no_data_batches(tmp_path):
    ckpt = str(tmp_path)

    def entry(name, log_id):
        return json.dumps({"path": f"file:///src/{name}", "timestamp": 0, "batchId": log_id})

    # log ids 0-1 live only in the compact file; batch 2 read no file
    _write(f"{ckpt}/sources/0/1.compact", ["v1", entry("a", 0), entry("b", 1), entry("c", 1)])
    _write(f"{ckpt}/sources/0/2", ["v1", entry("d", 2)])
    _write(f"{ckpt}/sources/0/3", ["v1", entry("e", 3)])
    for batch_id, offset in enumerate([0, 1, 1, 2]):
        _write(f"{ckpt}/offsets/{batch_id}", ["v1", "{}", json.dumps({"logOffset": offset})])
        _write(f"{ckpt}/commits/{batch_id}", ["v1", "{}"])
        os.utime(f"{ckpt}/commits/{batch_id}", (100 + batch_id, 100 + batch_id))

    done = stream_ingest.committed_at(ckpt, ["a", "b", "c", "d", "e"])
    # e was listed (log id 3) but its batch has not committed yet
    assert done == {"a": 100, "b": 101, "c": 101, "d": 103}


@pytest.fixture(scope="module")
def spark():
    from spring_and_kafka_spark.session import get_spark

    s = get_spark("perfbench-selftest", cpus=2)
    yield s
    s.stop()


def test_batch_pass_emits_every_metric_and_reports_a_wrong_hash(spark, monkeypatch):
    from spring_and_kafka_spark import registry

    monkeypatch.setitem(batch.WORKLOADS, "selftest", ("q_agg_group", "q_pivot"))
    expected = batch.load_expected(run.EXPECTED)
    expected["q_pivot"] = {**expected["q_pivot"], "hash": "0" * 64}
    out = batch.run(
        spark,
        registry.all_specs(),
        run.FIXTURES,
        "selftest",
        seed=1,
        seconds=0.1,
        cores=2,
        tracer=status.Tracer(enabled=True),
        expected=expected,
    )
    assert len(out["errors"]) == 1 and out["errors"][0].startswith("q_pivot:")

    idle = types.SimpleNamespace(stop=lambda: None)
    setup = run.Setup(lambda name, cpus: idle, 2, lambda k: run.FIXTURES)
    setup.run(1)
    run.lag_metrics(out)
    setup_metrics = setup.metrics()
    out["metrics"]["setup_s"] = setup_metrics.pop("setup_s")
    out["layers"].update(setup_metrics, **{"jvm.peak_rss_mb": status.jvm_peak_rss_mb(spark)})

    for trace, section in ((False, "end_to_end"), (True, "per_layer")):
        line = run.result_line(out, trace)
        assert (line["correct"], line["failed"]) == (False, 1)
        assert line["attempted"] >= 4
        units = {k: v["unit"] for k, v in line["metrics"].items()}
        assert units == _units(section)
    assert out["layers"]["spark.jobs"] > 0 and out["layers"]["executor.cpu_s"] > 0


def test_lag_tail_leaves_ten_samples_beyond_it():
    assert run.lag_tail([float(i) for i in range(1, 11)]) == 10.0
    for n in (18, 50, 200, 400):
        lags = [float(i) for i in range(1, n + 1)]
        beyond = sum(lag > run.lag_tail(lags) for lag in lags)
        assert beyond >= 10 and (n < 200 or beyond <= 0.05 * n)


def test_tiny_stream_maps_every_file_to_its_batch(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(stream_ingest, "RATE", 10.0)
    monkeypatch.setattr(stream_ingest, "EVENTS_PER_FILE", 20)
    monkeypatch.setattr(stream_ingest, "WARMUP_S", 0.5)
    seconds = 2.0
    staged = stream_ingest.stager(str(tmp_path), seed=3, seconds=seconds)(0)
    tracer = status.Tracer(enabled=True)
    out = stream_ingest.run(spark, staged, str(tmp_path), 3, tracer)
    assert out["errors"] == []
    measured = round(10.0 * seconds)
    assert len(out["lags"]) == measured
    assert out["layers"]["streaming.lag_samples"] == measured
    assert out["detail"]["phase_a"]["failed_files"] == 0
    assert out["layers"]["streaming.triggers"] > 0
    assert any(sp["name"] == "streaming.trigger" for sp in tracer.spans)
    assert all(lag > 0 for lag in out["lags"])
    run.lag_metrics(out)
    assert set(_units("end_to_end")) - set(out["metrics"]) == {"setup_s"}
