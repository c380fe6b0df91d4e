"""Kinesis stream source configuration (reference S1/S2).

The reference consumes via the KCL MultiLangDaemon with a DynamoDB
lease/checkpoint table and TRIM_HORIZON/LATEST start positions
(consumer.properties.template:4-26, run_kcl.sh:21, main.go:85-86) and
bounds ingest with BatchCount=100 / BatchInterval=5s / READ_RATE_LIMIT
(main.go:54-59).

In Structured Streaming the same topology is pure configuration:

- shard -> task parallelism comes from the source connector;
- KCL checkpointing -> ``checkpointLocation`` (exactly-once source
  tracking replaces the DynamoDB lease table);
- TRIM_HORIZON/LATEST -> ``startingPosition``;
- batch bounds -> ``trigger(processingTime='5 seconds')`` plus the
  connector's fetch-rate options;
- the record pipeline itself (``pipeline.process_lines``) is
  source-agnostic: any DataFrame with a line column slots in.

This container ships no Kinesis connector jar, so :func:`read_kinesis`
raises unless one is on the classpath — the options dict is the
tested, documented contract; dev/test use the file/rate sources in
``streaming.pipeline``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

# Option names follow the spark-sql-kinesis connector family
# (format "aws-kinesis").
DEFAULT_KINESIS_OPTIONS: dict[str, str] = {
    "streamName": "logs",
    "region": "us-west-2",
    "startingPosition": "TRIM_HORIZON",  # reference KCL initial position
    # reference READ_RATE_LIMIT / BatchCount analogues:
    "maxFetchRecordsPerShard": "10000",  # KCL GetRecords bound
    "maxFetchTimePerShard": "5000",      # ms, reference BatchInterval
}


def kinesis_options(**overrides: str) -> dict[str, str]:
    return {**DEFAULT_KINESIS_OPTIONS, **overrides}


def read_kinesis(
    spark: SparkSession, fmt: str = "aws-kinesis", **overrides: str
) -> DataFrame:
    """``readStream`` against a Kinesis connector; raises a clear error
    when no connector is installed (this container has none)."""
    reader = spark.readStream.format(fmt)
    for k, v in kinesis_options(**overrides).items():
        reader = reader.option(k, v)
    try:
        return reader.load()
    except Exception as exc:  # pragma: no cover - environment-dependent
        raise RuntimeError(
            f"no '{fmt}' streaming connector on the classpath; install the "
            "connector jar (spark.jars.packages) or use the file "
            "sources in streaming.pipeline for dev"
        ) from exc

