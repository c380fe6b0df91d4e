"""Tests of the benchmark itself.

    python3 -m pytest perfbench/test_perfbench.py -q

The engine tests start one local Spark session; the runner tests run
``run.py`` end to end for a short time, so the whole file takes a few
minutes.
"""

from __future__ import annotations

import filecmp
import json
import os
import subprocess
import sys

import pyarrow.dataset as ds
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import check  # noqa: E402
import gen  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)


def _write(tmp_path, seed, name="src", files=2, lines=300):
    return gen.write_kayvee_files(gen.KayveeGen(seed), str(tmp_path / name),
                                  files, lines)


def test_kayvee_generator_is_deterministic(tmp_path):
    a, b = _write(tmp_path, 5, "a"), _write(tmp_path, 5, "b")
    _write(tmp_path, 6, "c")
    names = sorted(os.listdir(tmp_path / "a"))
    match, mismatch, errors = filecmp.cmpfiles(
        tmp_path / "a", tmp_path / "b", names, shallow=False)
    assert match == names and not mismatch and not errors
    assert a == b
    assert not filecmp.cmp(tmp_path / "a" / names[0],
                           tmp_path / "c" / names[0], shallow=False)


def test_kayvee_generator_covers_every_branch(tmp_path):
    exp = _write(tmp_path, 5, files=4, lines=500)
    metrics = {m for m, _ in exp.dd}
    assert {"kv.mongo.slow-query", "kv.rds.slow-query",
            "kv.ContainerExitCount"} <= metrics
    assert any(m.startswith("kv.process-metrics.") for m in metrics)
    assert exp.cw_rows > 0
    assert 0.03 < exp.quarantine / exp.records < 0.08


def test_docs_generator_is_deterministic():
    a = gen.make_docs(3, 200, 100, 3, 0.5)
    b = gen.make_docs(3, 200, 100, 3, 0.5)
    c = gen.make_docs(4, 200, 100, 3, 0.5)
    assert a == b and a != c
    assert a.planted and all(
        gen.jaccard(dict(a.corpus)[o], dict(a.new)[n], 3) >= 0.5
        for o, n in a.planted)


def test_spec_names_the_workloads():
    assert [w["name"] for w in SPEC["workloads"]] == list(WORKLOADS)


# -- against the engine ---------------------------------------------------


@pytest.fixture(scope="module")
def spark():
    from kinesis_alerts_consumer_spark.session import get_spark

    s = get_spark(app_name="perfbench-tests", master="local[2]",
                  shuffle_partitions=2)
    yield s
    s.stop()


@pytest.fixture(scope="module")
def sunk(spark, tmp_path_factory):
    """A tiny seed pushed through the engine's sink and volume rollup:
    (sink dir, volume dir, expected totals)."""
    from kinesis_alerts_consumer_spark.functions.kayvee import parse_lines
    from kinesis_alerts_consumer_spark.operators.volume import batch_log_volume
    from kinesis_alerts_consumer_spark.pipeline import process_lines
    from kinesis_alerts_consumer_spark.streaming.sinks import MetricsSink

    tmp = tmp_path_factory.mktemp("sunk")
    exp = _write(tmp, 11, files=2, lines=400)
    lines = spark.read.text(str(tmp / "src"))
    MetricsSink(str(tmp / "out")).process_batch(process_lines(lines), 0)
    batch_log_volume(parse_lines(lines), 0).write.parquet(str(tmp / "vol"))
    return str(tmp / "out"), str(tmp / "vol"), exp


def test_calculator_matches_engine(sunk):
    out, vol, exp = sunk
    assert check.sink_mismatches(out, exp) == []
    assert check.volume_mismatches(vol, exp) == []


def test_check_trips_on_corrupted_sink(sunk, tmp_path):
    import shutil

    out, _, exp = sunk
    bad = str(tmp_path / "out")
    shutil.copytree(out, bad)
    part = sorted(f.path for f in ds.dataset(
        os.path.join(bad, "dd"), format="parquet").get_fragments())[0]
    t = pq.read_table(part)
    values = t.column("value").to_pylist()
    values[0] += 1.0
    pq.write_table(t.set_column(t.schema.get_field_index("value"), "value",
                                [values]), part)
    assert check.sink_mismatches(bad, exp)
    shutil.rmtree(os.path.join(bad, "quarantine"))
    assert any("quarantine" in m for m in check.sink_mismatches(bad, exp))


def test_dedup_check_matches_engine(spark, tmp_path):
    from kinesis_alerts_consumer_spark.operators.dedup import (
        lsh_build_index, lsh_incremental_pairs)

    docs = gen.make_docs(2, 300, 150, 3, 0.5)
    old = spark.createDataFrame(docs.corpus, "doc_id long, text string")
    new = spark.createDataFrame(docs.new, "doc_id long, text string")
    idx = lsh_build_index(old, shingle=3)
    out = str(tmp_path / "pairs")
    lsh_incremental_pairs(new, old, shingle=3, threshold=0.5, max_bucket=64,
                          index=idx).write.parquet(out)
    found, bad = check.dedup_result(out, dict(docs.corpus), dict(docs.new),
                                    docs.planted, 3, 0.5)
    assert bad == [] and found > 0
    # a pair below the threshold is a failure
    assert check.dedup_result(out, dict(docs.corpus), dict(docs.new),
                              docs.planted, 3, 1.01)[1]


# -- the runner -----------------------------------------------------------


def _run(workload: str, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "1", "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload,trace", [
    ("replay_backlog", 0), ("dedup_ingest", 0),
    ("replay_backlog", 1), ("dedup_ingest", 1)])
def test_runner_prints_the_spec_metrics(workload, trace):
    res = _run(workload, trace)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] > 0
    spec = SPEC["per_layer" if trace else "end_to_end"]
    assert list(res["metrics"]) == [m["name"] for m in spec]
    assert all(res["metrics"][m["name"]]["unit"] == m["unit"] for m in spec)
    if not trace:
        assert all(v["value"] > 0 for v in res["metrics"].values())
    else:
        own = {"replay_backlog": ("kayvee.", "routing.", "project.",
                                  "pipeline.plan", "sinks.process", "volume."),
               "dedup_ingest": ("dedup.",)}[workload]
        for name, v in res["metrics"].items():
            if name.startswith(own + ("stream.batches", "session.",
                                      "host.calib", "baseline.", "trace.")):
                assert v["value"] > 0, name


def test_runner_fails_without_the_engine(tmp_path):
    import shutil

    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "replay_backlog",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180)
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
