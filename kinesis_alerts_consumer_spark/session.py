"""SparkSession factory with the engine's pinned configuration.

Two entry points:

- :func:`get_spark` — build a session for local dev/tests/bench.
- :func:`configure` — pin the *runtime-settable* confs onto an
  existing session (the verify driver hands us one we didn't build).

Pinned confs and why (see SURVEY.md §2B / §7):

- ``spark.sql.legacy.parquet.nanosAsLong=true`` — the driver-generated
  ``events.parquet`` stores ``ts`` as parquet TIMESTAMP(NANOS); vanilla
  Spark aborts with PARQUET_TYPE_ILLEGAL. With this conf the column
  reads as LongType nanos, which :mod:`.sources.tables` converts with
  integer ``ts DIV 1000 -> timestamp_micros`` (integer DIV: double
  division of ~1.7e18 ns exceeds the 53-bit mantissa and yields ±1 µs
  errors).
- ``spark.sql.session.timeZone=UTC`` — DuckDB (the correctness oracle)
  treats parquet timestamps as naive; pinning UTC makes Spark's
  rendering byte-identical.
- AQE on (with skew-join handling) — at the 100 TB target, runtime
  re-planning (coalesce post-shuffle partitions, skew-split, dynamic
  broadcast) is the difference between a plan that survives skew and
  one that doesn't. Harmless at sf0.001.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Confs that can be applied to a live session (spark.conf.set).
RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for any pandas_udf / applyInPandas path (similarity, multimodal).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # fields.with_typed_fields merges engine columns over body fields
    # with map_concat; LAST_WIN makes the later (engine) entry win.
    "spark.sql.mapKeyDedupPolicy": "LAST_WIN",
}

# Confs that must be set before the JVM/session exists.
BUILD_CONFS: dict[str, str] = {
    "spark.ui.enabled": "false",
    # no console progress bars: they interleave with the bench's
    # stdout/stderr and carry nothing the run records do not
    "spark.ui.showConsoleProgress": "false",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
    # local[N] has no dynamic executors; bound shuffle fan-out to
    # cores. Tracks SPARK_GRAFT_CPUS (the bench's core count) so the
    # driver's lower-core scaling runs don't pay 32 shuffle partitions
    # on an 8-slot master (r14 optimization round); SPARK_GRAFT_SHUFFLE
    # still overrides for explicit experiments, and deployments size
    # this to cluster cores / AQE advisory bytes as usual.
    # SPARK_GRAFT_CPUS legitimately accepts '*' (get_spark uses it as
    # local[*]) — only an all-digit value is usable as a shuffle
    # partition count; anything else falls back to the machine's
    # cores (ADVICE r14).
    "spark.sql.shuffle.partitions": os.environ.get(
        "SPARK_GRAFT_SHUFFLE",
        cpus if (cpus := os.environ.get("SPARK_GRAFT_CPUS", "32")).isdigit()
        else str(os.cpu_count() or 32)),
    # Whole-stage-codegen class cache (static conf, default 100
    # entries). A long-lived session running a many-query workload —
    # the 107-query bench suite here, a Thrift/Connect server or a
    # multi-query ETL driver at scale — evicts and re-janino-compiles
    # constantly at the default: with every query warmed once and then
    # re-run (the bench protocol), ~100 other queries execute between
    # a query's warm-up and its timed run, so plan-heavy queries paid
    # the compile twice (r14 optimization round measurement: suite
    # P50 -7%, compile-heavy entries -0.3 to -3 s). Compiled classes
    # are small; 4096 entries is a few hundred MB of metaspace at
    # worst, and single-query jobs never notice the difference.
    "spark.sql.codegen.cache.maxEntries":
        os.environ.get("SPARK_GRAFT_CODEGEN_CACHE", "4096"),
}

# Extra driver JVM options are opt-in ONLY. A previous attempt set
# -XX:ReservedCodeCacheSize=1g -Xms<heap> -XX:+AlwaysPreTouch by
# default to chase in-suite timing oscillation; A/B on the full
# 69-query suite showed those options CAUSE a ~2.2x suite-wide
# slowdown (78 s -> 171 s, worst on late-suite queries: the
# 8 GiB committed-from-start heap makes G1 keep a huge resident set,
# so each successive query's allocations fight a full heap instead of
# growing lazily). The oscillation itself reproduced only under
# concurrent Spark sessions on the same host (self-contention), not
# from code-cache overflow. Keep the hook, never the default.
_extra_java_opts = os.environ.get("SPARK_GRAFT_DRIVER_JAVA_OPTS")
if _extra_java_opts:
    BUILD_CONFS["spark.driver.extraJavaOptions"] = _extra_java_opts


def configure(spark: SparkSession) -> SparkSession:
    """Pin runtime confs onto an existing session (idempotent)."""
    for key, value in RUNTIME_CONFS.items():
        try:
            spark.conf.set(key, value)
        except Exception:
            # Static conf on this build — fall back to whatever the
            # session was built with rather than failing hard.
            pass
    return spark


def get_spark(
    app_name: str = "kinesis-alerts-consumer-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) the engine session with pinned confs."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = SparkSession.builder.appName(app_name).master(
        master or f"local[{cpus}]"
    )
    for key, value in BUILD_CONFS.items():
        builder = builder.config(key, value)
    if shuffle_partitions is not None:
        builder = builder.config(
            "spark.sql.shuffle.partitions", str(shuffle_partitions)
        )
    for key, value in RUNTIME_CONFS.items():
        builder = builder.config(key, value)
    return configure(builder.getOrCreate())
