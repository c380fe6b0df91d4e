"""Streaming wiring: raw-line stream -> record pipeline -> sinks.

The reference consumes a Kinesis stream via the KCL MultiLangDaemon
(consumer.properties.template, run_kcl.sh — SURVEY.md §2A S1/S2). The
engine expresses the same topology as Structured Streaming:

  readStream (text/kafka/kinesis) -> process_lines -> foreachBatch
  {MetricsSink: group by tag, submit DD with retry, CW best-effort,
   quarantine DLQ}

plus the two side aggregations (A1 volume rollup as a separate
streaming query over the same source — mirroring the reference's
dedicated metrics goroutine; A2 max-delay inside the sink).

Dev/test sources: text-file directory stream and ``availableNow``
bounded replay (used by the streaming-equivalence tests). The Kinesis
connector is configuration, not code: any DataFrame-producing
``readStream`` source slots in unchanged. A large micro-batch's source
parallelism (shards / partitions / files) maps 1:1 onto tasks and the
record pipeline runs shuffle-free up to the sink. A small micro-batch
(at most half as many splits as cores) first gets a round-robin spread
(:func:`..operators.util.spread_for_compute`), so the interpreted
parse->route->project work runs on every core rather than one task per
file. The A1 rollup shuffles on (env, app, team) — low cardinality,
bounded state.

Micro-batch bounds (reference batch=100 / 5 s, main.go:54-59) map to
``trigger(processingTime='5 seconds')`` + source rate options
(``maxFilesPerTrigger`` here, ``maxFetchRate`` on Kinesis).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from ..operators.util import spread_for_compute
from ..pipeline import process_lines
from .sinks import MetricsSink


def stream_lines(
    spark: SparkSession,
    source_dir: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Text-file directory stream of raw syslog/kayvee lines."""
    reader = spark.readStream.format("text")
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(source_dir)


def replay_lines(
    spark: SparkSession,
    source_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    deploy_env: str = "production",
    sink: MetricsSink | None = None,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Bounded availableNow replay of a line directory through the full
    pipeline into a :class:`MetricsSink` — the streaming-equivalence
    harness (SURVEY.md §5.2 item 3). ``max_files_per_trigger`` bounds
    each micro-batch (reference batch=100/5 s, main.go:54-59) and is
    what the recovery chaos test uses to force a multi-batch replay."""
    sink = sink or MetricsSink(out_dir)
    lines = stream_lines(spark, source_dir, max_files_per_trigger)

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        sink.process_batch(
            process_lines(spread_for_compute(batch_df), "value", deploy_env),
            batch_id,
        )

    return (
        lines.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def volume_rollup_processing_time(
    spark: SparkSession,
    source_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    deploy_env: str = "production",
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """A1 volume rollup in the reference's PROCESSING-TIME mode
    (metrics.go:79-103): each micro-batch is the 1-minute tick —
    aggregate the batch's own records by (env, app, team) and append
    the per-tick deltas. Accumulate/ship/reset; a late record counts
    in the tick it ARRIVES in. Contrast st01
    (``plans.streaming_queries.q_stream_hourly_rollup``), the
    engine's event-time rollup, which re-buckets by event time under
    a watermark (the documented divergence, SURVEY.md §2C)."""
    from ..functions.kayvee import parse_lines
    from ..operators.volume import batch_log_volume

    lines = stream_lines(spark, source_dir, max_files_per_trigger)

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        parsed = parse_lines(batch_df, "value", deploy_env)
        # Idempotent under checkpoint replay: foreachBatch is
        # at-least-once, so a failure-and-restart re-runs the same
        # batch_id. Overwriting exactly this batch's partition
        # (dynamic partition overwrite) makes the re-run replace its
        # own earlier rows instead of appending duplicates.
        batch_log_volume(parsed, batch_id).write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy("batch_id").parquet(out_dir)

    return (
        lines.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
