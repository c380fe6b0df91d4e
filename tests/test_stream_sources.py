"""Network stream-source contracts (reference S1/S2).

The Kinesis connector jar is optional, so these pin the CONTRACT:
option mapping from the reference's KCL config
(consumer.properties.template:4-26, main.go:54-59) and the loud,
actionable error when the connector is absent. The socket test drives
the whole pipeline from a live network source: any ``readStream``
yielding one string ``value`` column slots in unchanged.
"""

from __future__ import annotations

import pytest

from kinesis_alerts_consumer_spark.sources.kinesis import (
    DEFAULT_KINESIS_OPTIONS,
    kinesis_options,
    read_kinesis,
)


def test_kinesis_options_contract():
    opts = kinesis_options(streamName="other", region="us-east-1")
    assert opts["streamName"] == "other"
    assert opts["region"] == "us-east-1"
    # KCL initial position + rate bounds survive overrides
    assert opts["startingPosition"] == "TRIM_HORIZON"
    assert opts["maxFetchRecordsPerShard"] == "10000"
    assert set(DEFAULT_KINESIS_OPTIONS) <= set(opts)


def test_read_kinesis_raises_actionable_error_without_connector(spark):
    with pytest.raises(RuntimeError, match="connector"):
        read_kinesis(spark)


def test_socket_source_drives_full_pipeline(spark, tmp_path):
    """A LIVE network source (localhost TCP socket, Spark's built-in
    ``socket`` format — no connector jar needed) driving the full
    parse→route→project→sink pipeline: proves the seam between a
    network readStream and ``process_lines`` end-to-end, the
    environment-gated gap the Kinesis option contract
    (sources/kinesis.py) can't cover in this container. The record
    pipeline is source-agnostic by construction — any DataFrame with a
    ``value`` string column slots in (reference: KCL MultiLangDaemon
    feeding stdin, run_kcl.sh; here a socket replaces the file
    replay)."""
    import os
    import socket
    import threading
    import time

    from pyspark.sql import functions as F

    from kinesis_alerts_consumer_spark.pipeline import process_lines
    from kinesis_alerts_consumer_spark.operators.project import dd_points
    from kinesis_alerts_consumer_spark.streaming.sinks import MetricsSink
    from tests.test_streaming import canon, make_lines

    lines = make_lines(24)
    done = threading.Event()
    server = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    server.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
    server.bind(("127.0.0.1", 0))
    server.listen(1)
    port = server.getsockname()[1]

    def serve():
        conn, _ = server.accept()
        try:
            conn.sendall(("\n".join(lines) + "\n").encode())
            done.wait(90)  # keep the connection open until asserted
        finally:
            conn.close()
            server.close()

    t = threading.Thread(target=serve, daemon=True)
    t.start()

    out = str(tmp_path / "out")
    sink = MetricsSink(out)
    stream = (
        spark.readStream.format("socket")
        .option("host", "127.0.0.1")
        .option("port", port)
        .load()
    )
    q = (
        stream.writeStream.foreachBatch(
            lambda df, bid: sink.process_batch(
                process_lines(df, "value", "test-env"), bid
            )
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        deadline = time.time() + 90
        got = []
        while time.time() < deadline:
            try:
                got = [
                    r.asDict(recursive=True)
                    for r in spark.read.parquet(os.path.join(out, "dd"))
                    .select("tag", "metric", "mtype", "tags", "ts", "value")
                    .collect()
                ]
            except Exception:  # noqa: BLE001 — dir not written yet
                got = []
            if len(got) >= 24:
                break
            time.sleep(1)
    finally:
        done.set()
        q.stop()

    batch_df = process_lines(
        spark.createDataFrame([(l,) for l in lines], "value string"),
        "value", "test-env",
    )
    assert canon(got) == canon(
        r.asDict(recursive=True) for r in dd_points(batch_df).collect()
    )
