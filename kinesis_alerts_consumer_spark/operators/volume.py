"""Volume-metrics aggregations (reference metrics.go / delay.go).

A1 — per-interval log-volume rollup (metrics.go:48-89):
  * counts + byte sums keyed by (env, app, team) — emitted as
    ``kinesis_alerts_consumer.log_volume_count`` / ``_size``;
  * counts keyed by (app, env, rule) over the record's kvmeta route
    rule names — ``kinesis_alerts_consumer.log_route_count``;
  * empty env/app/team normalize to "unknown" (metrics.go:49-57);
  * recorded BEFORE the ignore filter (alerts_consumer.go:90 runs
    before :101) — ignored records still count.

The reference's channel + single-goroutine accumulate/swap-reset is
exactly a shuffle into a keyed stateful aggregation; in Spark it's a
``groupBy`` (streaming: over a processing/event-time window with
``update`` output). Partial aggregation (map-side combine) gives the
same "accumulate cheap, ship on tick" behavior with no custom code.

A2 — max-delay gauge (delay.go:15-39): per batch
``max(now - point_ts)``, swap-and-reset every 15 s; here a one-row
aggregate computed per micro-batch in the sink.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _unknown(col: Column) -> Column:
    return F.when(col.isNull() | (col == ""), F.lit("unknown")).otherwise(col)


def _keys(df: DataFrame) -> DataFrame:
    return df.select(
        _unknown(F.col("container_env")).alias("env"),
        _unknown(F.col("container_app")).alias("app"),
        _unknown(F.col("team")).alias("team"),
        F.col("num_bytes"),
        F.when(
            F.col("kvmeta.routes").isNotNull(),
            F.transform(
                F.col("kvmeta.routes"),
                lambda r: F.coalesce(r.getField("rule"), F.lit("")),
            ),
        )
        .otherwise(F.expr("array()").cast("array<string>"))
        .alias("rules"),
        *([F.col("timestamp")] if "timestamp" in df.columns else []),
    )


def log_volume(parsed: DataFrame) -> DataFrame:
    """(env, app, team) -> count, size  [metrics.go:79-83, 104-141]."""
    return (
        _keys(parsed)
        .groupBy("env", "app", "team")
        .agg(F.count("*").alias("cnt"), F.sum("num_bytes").alias("size"))
    )


def log_route_volume(parsed: DataFrame) -> DataFrame:
    """(app, env, rule) -> count over kvmeta route rule names
    [metrics.go:62-66, 84-87, 143-157]. Records without routes emit
    nothing (the explode drops empty arrays), matching the reference's
    per-rule-name work items."""
    k = _keys(parsed)
    return (
        k.select("app", "env", F.explode("rules").alias("rule"))
        .groupBy("app", "env", "rule")
        .count()
        .withColumnRenamed("count", "cnt")
    )


def salted_log_volume(parsed: DataFrame, salt_n: int = 16) -> DataFrame:
    """:func:`log_volume` executed through the two-phase salted
    aggregation (:func:`..operators.skew.salted_agg`) for pathological
    key distributions — e.g. one (env, app) holding ~half of a 100 TB
    day's records, where even AQE can't split the single hot group.

    count/sum are algebraic, so the salted result is EXACTLY the plain
    groupBy result (the oracle is the plain GROUP BY — salting must be
    algebraically invisible). The salt is a HASH of per-record content
    (timestamp + byte count), not ``rand``: seeded rand is
    partition-layout-dependent, so two replays over differently-
    partitioned input would salt differently — harmless for the final
    result (algebraic merge) but it breaks replay determinism of the
    phase-1 partials, which matters when partials are checkpointed or
    audited."""
    from .skew import salted_agg

    k = _keys(parsed)
    salt_src = (
        F.xxhash64(F.col("timestamp"), F.col("num_bytes"))
        if "timestamp" in k.columns
        else F.xxhash64(F.col("num_bytes"))
    )
    return salted_agg(
        k,
        keys=["env", "app", "team"],
        aggs={"cnt": ("count", F.lit(1)), "size": ("sum", "num_bytes")},
        salt_n=salt_n,
        salt_on=salt_src,
    )


def batch_log_volume(parsed_batch: DataFrame, batch_id: int = 0) -> DataFrame:
    """Processing-time A1 rollup of ONE micro-batch, stamped with its
    batch id.

    This is the reference-faithful mode (metrics.go:79-103): records
    accumulate between ticks and ship on the tick, keyed by ARRIVAL —
    a late record lands in the CURRENT tick's bucket, not its
    event-time bucket. A Spark micro-batch IS the tick: aggregate the
    batch's own records and append the deltas; no watermark, no
    cross-batch state. The engine's event-time rollup, which
    re-buckets late data by record timestamp, is st01.
    """
    return log_volume(parsed_batch).withColumn(
        "batch_id", F.lit(batch_id).cast("bigint")
    )


def max_delay_agg(ts: Column, now: Column | None = None) -> Column:
    """A2 aggregate ``max_log_delay``: ``max(now - ts)`` in epoch
    seconds, floored at 0 (delay.go:17-33 ignores zero timestamps;
    nulls drop here). ``now`` defaults to the query's current time."""
    now = now if now is not None else F.unix_timestamp(F.current_timestamp())
    return F.coalesce(
        F.greatest(F.max(now - ts), F.lit(0)), F.lit(0)
    ).alias("max_log_delay")


def max_delay_seconds(dd_points_df: DataFrame, now: Column | None = None) -> DataFrame:
    """A2: one-row :func:`max_delay_agg` over the points' ``ts``."""
    return dd_points_df.agg(max_delay_agg(F.col("ts"), now))
