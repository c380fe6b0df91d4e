"""Streaming queries through the driver's correctness gate.

Each entry replays the bounded ``events`` table as a file stream
(``availableNow`` trigger) through a REAL Structured Streaming
aggregation — watermark, tumbling/session windows, state store — into
a memory sink, and returns the sink table. The DuckDB oracle is the
batch-equivalent SQL, so the driver's hash compare IS the
streaming/batch equivalence theorem for these operators (SURVEY.md
§5.2 item 3) run on every round.

Session-gap semantics note: ``session_window`` starts a NEW session
when the inter-event gap is >= the gap duration (window overlap is
half-open); the oracle's island break uses ``>=`` to match exactly.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import _scratch
from ..session import configure
from ..streaming.aggregates import (
    hourly_type_rollup,
    purchase_click_join,
    state_partitions_for,
    stream_events,
    user_sessions,
)


def _await(q, timeout: int = 600) -> None:
    """Wait for a bounded replay; FAIL on timeout instead of letting
    the caller read a partially-committed sink (awaitTermination's
    False return is silent) while the stream keeps running."""
    if not q.awaitTermination(timeout):
        q.stop()
        raise TimeoutError(
            f"streaming replay did not finish within {timeout}s"
        )


def _batch_dirs(out: str) -> list[str]:
    """The ``b{batch_id}`` subdirectories a per-batch ``foreachBatch``
    sink wrote under ``out``, as explicit paths. A ``b*`` glob read
    instead makes Spark's ``FileStreamSink.hasMetadata`` stat the glob
    as a literal path and log a ``FileNotFoundException`` stack on
    every healthy run."""
    import os

    return sorted(os.path.join(out, d) for d in os.listdir(out)
                  if d.startswith("b"))


def _run_to_memory(df: DataFrame, spark: SparkSession) -> DataFrame:
    """Memory sink — ONLY for aggregates whose result is bounded
    (st01: hours x event types). An unbounded result through the
    memory sink dies at scale: every task ships its slice of the
    aggregate to the driver as task results (the r6 sf10 rehearsal
    measured st02's session table failing with TaskResultLost at 10M
    events). Anything whose result grows with the data goes through
    ``_run_to_scratch`` instead."""
    name = "st_" + uuid.uuid4().hex[:12]
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    _await(q)
    return spark.table(name)


def _run_to_scratch(
    df: DataFrame,
    spark: SparkSession,
    dirs: list[str],
    prefix: str,
    mode: str,
) -> DataFrame:
    """Bounded replay whose per-batch results land in a PARQUET
    scratch dir via ``foreachBatch`` — the executor-side sink shape
    for results that grow with the data (the memory sink materializes
    the whole result driver-side; see ``_run_to_memory``).

    append mode uses the NATIVE parquet streaming sink — exactly-once
    under micro-batch replay via the sink's file commit log (the st08
    shape). complete/update (unsupported by the native file sink) go
    through foreachBatch, each in a replay-idempotent form: complete
    overwrites per batch (any re-run of the final batch rewrites the
    same full aggregate), update appends and REQUIRES the caller's
    reduction over the update rows to absorb duplicates (st03 takes
    max of monotone running counts, so a replayed batch's re-appended
    rows change nothing)."""
    import os

    root = _new_scratch(dirs, prefix)
    out, ckpt = os.path.join(root, "out"), os.path.join(root, "ckpt")

    if mode == "append":
        q = (
            df.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
    else:
        write_mode = "overwrite" if mode == "complete" else "append"

        def _sink(batch_df: DataFrame, _batch_id: int) -> None:
            batch_df.write.mode(write_mode).parquet(out)

        q = (
            df.writeStream.foreachBatch(_sink)
            .option("checkpointLocation", ckpt)
            .outputMode(mode)
            .trigger(availableNow=True)
            .start()
        )
    _await(q)
    return spark.read.parquet(out)


class _rocksdb_state_store:
    """Pin RocksDBStateStoreProvider for queries whose state grows
    with the stream (HDFSBackedStateStore keeps every in-flight key
    on-heap; RocksDB keeps them off-heap and spills to disk — the
    production choice whenever state ~ stream volume). The conf is
    read at query START, so the previous value is restored as soon as
    the ``with`` block (which must contain the ``.start()``) exits."""

    _KEY = "spark.sql.streaming.stateStore.providerClass"
    # Commit deltas instead of full SST snapshots per micro-batch —
    # measured 27 -> 22 s on st07's sf10 replay; at real checkpoint
    # distances (object storage) the gap widens. Safe here: every
    # scratch query starts from a fresh checkpoint dir, so there is
    # no cross-format checkpoint to stay compatible with.
    _CLOG = (
        "spark.sql.streaming.stateStore.rocksdb."
        "changelogCheckpointing.enabled"
    )

    def __init__(self, spark: SparkSession) -> None:
        self._spark = spark

    def __enter__(self) -> None:
        self._prev = self._spark.conf.get(self._KEY, None)
        self._prev_clog = self._spark.conf.get(self._CLOG, None)
        self._spark.conf.set(
            self._KEY,
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        )
        self._spark.conf.set(self._CLOG, "true")

    def __exit__(self, *exc: object) -> None:
        for key, prev in ((self._KEY, self._prev),
                          (self._CLOG, self._prev_clog)):
            if prev is None:
                self._spark.conf.unset(key)
            else:
                self._spark.conf.set(key, prev)


def q_stream_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling hourly rollup through the memory sink.

    State partitioning sized to volume via
    :func:`..streaming.aggregates.state_partitions_for` (r15; the
    st07/st08 precedent): the rollup's state is bounded (hours x
    event types), so at bench scale the per-partition commit
    machinery dominates — measured at sf0.1/32 cores: 32 session
    default 2.04 s wall / 27.6 s executorRunTime vs sized-8 1.65 s /
    4.7 s (the state-store maintenance work scales with partition
    count, not data). At large SFs the sizing grows past the core
    count with source volume exactly like the other stateful
    entries. Result-identical: partition count never changes a
    groupBy aggregate."""
    configure(spark)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set(
        "spark.sql.shuffle.partitions",
        str(state_partitions_for(spark, sf_dir)))
    try:
        out = _run_to_memory(
            hourly_type_rollup(stream_events(spark, sf_dir)), spark
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return out.orderBy("w", "event_type")


SQL_STREAM_HOURLY = """
SELECT date_trunc('hour', ts) AS w, event_type, COUNT(*) AS cnt,
       ROUND(SUM(value), 2) AS sv
FROM events GROUP BY 1, 2 ORDER BY 1, 2
"""


def q_stream_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-window aggregate in APPEND mode — the production
    sessionization shape: finalized sessions are EMITTED and their
    state EVICTED as the watermark passes, so neither state nor any
    per-batch output ever holds the whole result.

    The r6 rehearsals forced two earlier shapes out: a memory sink
    died at 10M events (TaskResultLost — the complete-mode aggregate
    ships driver-side as task results), and complete mode into a
    parquet scratch died at 100M (heap OOM: complete MATERIALIZES
    every session per batch even when the sink is executor-side).
    Append mode needs stream punctuation to flush the tail: a bounded
    replay's watermark stops short of the last sessions, so the
    replay unions ONE far-future sentinel event into the source —
    the watermark (batch max event time − delay) then passes every
    real session and the final no-data micro-batch (Spark processes
    event-time state whenever the watermark moves, availableNow
    included) emits and evicts them. The sentinel's own session stays
    unfinalized in state and is filtered on read. Sessions land in
    the native parquet sink (exactly-once via its commit log);
    session state is pinned to RocksDB. sf100: heap OOM -> runs.

    r11 shape (VERDICT r10 item 3): the sentinel rides its OWN
    one-row scratch dir as a second file-stream source unioned with
    the source dir — r10's A/B named the former whole-source scratch
    copy (batch read+rewrite of every column) a dominant term, and
    this deletes it: the only batch touch of the source left is the
    single-column max(ts) scan, the streaming scan reads (ts,
    user_id) straight off the original file, and scratch disk no
    longer scales with the source. availableNow snapshots both
    sources into the same first micro-batch, so the post-batch
    watermark passes every real session exactly as before
    (equivalence + no-src-copy structure pinned in
    tests/test_streaming.py::
    test_st02_sentinel_only_scratch_flushes_all_sessions).
    Interleaved same-host A/B, fresh JVM per sample, /tmp/sf100
    (100M events), 3v3: old 249.4/231.9/224.9 (mean 235.4) vs new
    239.4/201.4/199.8 (mean 213.5) — new wins every adjacent pair,
    −9.3% mean; sf0.1 3v3 neutral (10.6 vs 10.3 mean — the copy is
    tiny there).

    State partitioning is sized to STATE VOLUME via
    :func:`..streaming.aggregates.state_partitions_for` (the
    st07/st08 precedent, VERDICT r9 item 2): session-window state
    holds every OPEN session, and an availableNow whole-corpus
    replay keeps every session open until the sentinel's final
    watermark advance — so peak state tracks source bytes like the
    join buffers and dedup keys. MEASURED RESULT: NEUTRAL for st02,
    unlike st07/st08 (the r10 negative result the verdict asked to
    record). /tmp/sf100 (100M events, fresh JVM per sample,
    interleaved same-host A/B, 4v4): unsized-32 269.1/219.1/225.5/
    250.6 s (mean 241.1) vs sized-60 227.2/247.0/264.2/192.5 s
    (mean 232.7) — adjacent pairs split 2-2, means within 4%, inside
    the host band. sf0.1 (3v3): 11.9/12.0/14.0 vs floored-8
    10.7/11.0/20.2 — same story. Dominant terms the partition count
    never touches: the sentinel src copy (ELIMINATED in r11 — see the
    shape note above), the session-window MERGE work (per-key sort/
    coalesce of session ranges, CPU-bound per row, unlike st08's
    O(1)-per-key dedup lookups), and the final 33M-row ordered
    drain. The wiring is kept: measured cost-neutral here, same
    whole-corpus-state rationale as the join/dedup twins, and it
    still guards a deployment whose session default is undersized
    for the state volume (BASELINE.md round-10 notes)."""
    import os

    from ..sources.tables import load_table

    configure(spark)
    root = _new_scratch(_ST02_DIRS, "st02_sessions_")
    sent_dir = os.path.join(root, "sentinel")
    events = load_table(spark, sf_dir, "events")
    id_type = dict(zip(events.schema.names,
                       [f.dataType for f in events.schema.fields]))
    # The sentinel alone goes to scratch (one row); the real events
    # stream straight from the source dir. r10's A/B named the former
    # whole-source copy (batch read+rewrite of every column into
    # scratch) as a dominant term — this shape deletes it entirely.
    # The only remaining batch touch of the source is the max(ts)
    # aggregate, a single-column column-pruned scan.
    sentinel = (
        events.limit(1)
        .crossJoin(events.agg(F.max("ts").alias("_mx")))
        .withColumn("ts", F.expr("_mx + INTERVAL 30 DAYS"))
        .withColumn("event_id", F.lit(-1).cast(id_type["event_id"]))
        .withColumn("user_id", F.lit(-1).cast(id_type["user_id"]))
        .drop("_mx")
        .select(*events.schema.names)
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    sentinel.write.mode("overwrite").parquet(sent_dir)
    # Two file-stream sources unioned into one replay: the bounded
    # source (same normalization as every other st query) plus the
    # one-row sentinel dir. availableNow snapshots both sources; the
    # union batch carries the sentinel, so the post-batch watermark
    # passes every real session exactly as the single-dir form did.
    #
    # HAZARD (ADVICE r11): this correctness silently depends on
    # availableNow reading BOTH sources in ONE micro-batch (true
    # today: neither reader sets maxFilesPerTrigger/maxBytesPerTrigger
    # and the default is ReadAllAvailable). If a rate limit ever
    # reaches either reader, a sentinel-first batch advances the
    # watermark past max(ts)+30d and every real event is dropped as
    # late — empty output, no error. tests/test_streaming.py::
    # test_st02_union_sources_carry_no_rate_limit pins the assumption
    # structurally so a future rate-limit addition fails loudly.
    real = stream_events(spark, sf_dir)
    sent_stream = spark.readStream.schema(
        spark.read.parquet(sent_dir).schema
    ).parquet(sent_dir)
    if dict(sent_stream.dtypes).get("ts") != "timestamp":
        sent_stream = sent_stream.withColumn(
            "ts", F.col("ts").cast("timestamp")
        )
    stream = real.unionByName(sent_stream)
    # conf override scoped to the stream start and restored after,
    # inside try/finally so a failed start cannot leak it (st07 shape)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    # target_bytes is the st08 calibration (32 MB), not the 64 MB
    # join default: at /tmp/sf100 the 64 MB target answers 30 — the
    # session default again, i.e. a silent no-op exactly like the cap
    # bug r9 found on st08. 32 MB lets the sizing actually ENGAGE
    # (60 at sf100, floor 8 at sf0.1); both regimes measured NEUTRAL
    # for this query (docstring above).
    n_state = state_partitions_for(spark, sf_dir, target_bytes=32 << 20)
    spark.conf.set("spark.sql.shuffle.partitions", str(n_state))
    try:
        with _rocksdb_state_store(spark):
            sessions = _run_to_scratch(
                user_sessions(stream),
                spark,
                _ST02_DIRS,
                "st02_sessions_out_",
                "append",
            )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return sessions.filter(F.col("user_id") >= 0).orderBy(
        "user_id", "session_start"
    )


SQL_STREAM_SESSIONS = """
WITH g AS (
  SELECT user_id, ts,
         CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id)
                   >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS brk,
         event_id
  FROM events),
s AS (
  SELECT user_id, ts,
         SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS UNBOUNDED PRECEDING) AS sess
  FROM g)
SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n
FROM s GROUP BY user_id, sess ORDER BY user_id, session_start
"""


def q_stream_stateful_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState): per-user
    running totals; after the bounded replay the final state per key
    must equal the batch aggregate.

    Deliberately NOT state-partition-sized (r15 measurement, unlike
    st01/st04): applyInPandasWithState is PYTHON-parallelism-bound —
    each state partition is one Python worker's pandas loop — so
    fewer/fatter partitions serialize the per-user work. Measured at
    sf0.1/32 cores: session default 32 -> 2.30 s wall; sized-8 ->
    3.01 s (executorRunTime drops 28.6 -> 12.2 s but the wall rises).
    The session default already tracks cluster cores, which is the
    right axis for a Python-bound operator."""
    from pyspark.sql import functions as F

    from ..streaming.stateful import running_user_totals

    configure(spark)
    # update rows (one per user per batch) land in a parquet scratch:
    # they grow with users x batches, which a memory sink would
    # materialize driver-side (see _run_to_memory).
    updates = _run_to_scratch(
        running_user_totals(stream_events(spark, sf_dir)),
        spark,
        _ST03_DIRS,
        "st03_totals_",
        "update",
    )
    # running counts are monotone: the max per user is the final state
    return (
        updates.groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.round(F.max("total_value"), 2).alias("total_value"),
        )
        .orderBy("user_id")
    )


SQL_STREAM_STATEFUL = """
SELECT user_id, COUNT(*) AS n_events,
       ROUND(SUM(COALESCE(value, 0.0)), 2) AS total_value
FROM events GROUP BY user_id ORDER BY user_id
"""


def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dropDuplicates: the replay injects a duplicate of
    every record (explode x2); the deduped sink must match the plain
    batch profile.

    Plain ``dropDuplicates`` keeps every key seen FOREVER — the
    documented unbounded-state contrast to st08's within-watermark
    variant. The sf10 posture mirrors st08's two fixes: the deduped
    stream (which grows with the data) lands in a parquet scratch
    and only the per-type profile is aggregated from it, and the
    key state is pinned to RocksDB so 10M+ keys live off-heap. The
    state still grows without bound on an endless stream — that
    part is the point of the st04-vs-st08 pairing, not a defect to
    fix here.

    State partitioning sized to STATE VOLUME via
    :func:`..streaming.aggregates.state_partitions_for` with the st08
    calibration (32 MB target — the explode doubles every key per
    source byte, exactly st08's regime), r15: measured at sf0.1/32
    cores 2.47 s wall / 38.7 s executorRunTime at the 32-partition
    session default vs 1.77 s / 4.9 s sized-8 — the dedup state is
    per-key O(1), so at bench scale per-partition RocksDB commit
    machinery is the whole cost, while at sf100 the sizing rises with
    volume like st08's measured 1.25x. Result-identical: partition
    count never changes dropDuplicates output."""
    from pyspark.sql import functions as F

    configure(spark)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    n_state = state_partitions_for(spark, sf_dir, target_bytes=32 << 20)
    spark.conf.set("spark.sql.shuffle.partitions", str(n_state))
    try:
        doubled = (
            stream_events(spark, sf_dir)
            .withColumn("_copy", F.explode(F.array(F.lit(1), F.lit(2))))
            .drop("_copy")
        )
        with _rocksdb_state_store(spark):
            deduped = _run_to_scratch(
                doubled.dropDuplicates(["event_id"]).select(
                    "event_id", "event_type"
                ),
                spark,
                _ST04_DIRS,
                "st04_dedup_",
                "append",
            )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return (
        deduped.groupBy("event_type")
        .agg(F.count("*").alias("n"))
        .orderBy("event_type")
    )


SQL_STREAM_DEDUP = """
SELECT event_type, COUNT(*) AS n FROM events
GROUP BY event_type ORDER BY event_type
"""


def q_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream interval join (purchase<-click
    attribution) replayed bounded; the sunk pairs re-aggregated per
    user must equal the batch interval join — the streaming/batch
    equivalence theorem for the join-state machinery (buffer, evict,
    co-partition) rather than the aggregation state st01/st02 cover.

    State partitioning is sized to STATE VOLUME via
    :func:`..streaming.aggregates.state_partitions_for`, not the
    session's batch shuffle default: a stream-stream join runs four
    state stores per partition per side, and each store pays a commit
    per micro-batch, so at small state partition count — fixed for
    the query's lifetime at first start — is the dominant cost
    (measured here: 32 partitions 5.7-11 s, 8 partitions 2.4 s,
    identical 183 rows), while at large state the knob moves the
    other way: raise it until per-partition state fits executor
    memory (measured at sf100/100M events: 8 partitions 322 s =
    124.4x, sized 30 partitions 115.8 s = 29.9x — BASELINE.md round-7
    notes). The conf is scoped to this query's start and restored
    after.

    Scale posture (fixed by the r6 sf100 rehearsal, which OOMed the
    heap at 100M events): join state is pinned to ROCKSDB — an
    availableNow whole-corpus replay buffers EVERY in-interval click
    before the watermark can evict anything, so state ~ stream volume
    must live off-heap — and the joined pairs (which grow with the
    data) land in a parquet scratch instead of a memory sink. Post-fix
    the same replay runs in 322 s (124x at 1000x data); the price at
    small scale is RocksDB commit overhead (sf10: 5.8 -> 27 s)."""
    configure(spark)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    n_state = state_partitions_for(spark, sf_dir)
    spark.conf.set("spark.sql.shuffle.partitions", str(n_state))
    try:
        with _rocksdb_state_store(spark):
            pairs = _run_to_scratch(
                purchase_click_join(stream_events(spark, sf_dir)),
                spark,
                _ST07_DIRS,
                "st07_pairs_",
                "append",
            )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return (
        pairs.groupBy(F.col("p_user").alias("user_id"))
        .agg(
            F.count("*").alias("n_pairs"),
            F.countDistinct("p_id").alias("n_purchases"),
            # floor-cents, not ROUND(SUM(double),2): a per-user group
            # aggregates many doubles, so engine summation order could
            # flip a .xx5 boundary (the vol04/llm30 hazard). Integer
            # addition commutes across partitions; floor(double*100) is
            # a single exactly-specified IEEE op in both engines.
            F.sum(F.floor(F.col("c_value") * 100)).alias("click_cents"),
        )
        .orderBy("user_id")
    )


SQL_STREAM_STREAM_JOIN = """
SELECT p.user_id AS user_id, COUNT(*) AS n_pairs,
       COUNT(DISTINCT p.event_id) AS n_purchases,
       CAST(SUM(CAST(floor(c.value * 100) AS BIGINT)) AS BIGINT)
         AS click_cents
FROM events p JOIN events c
  ON p.user_id = c.user_id
 AND c.ts >= p.ts - INTERVAL 30 MINUTE AND c.ts <= p.ts
WHERE p.event_type = 'purchase' AND c.event_type = 'click'
GROUP BY p.user_id ORDER BY p.user_id
"""


def q_stream_dedup_within_watermark(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """``dropDuplicatesWithinWatermark``: the bounded-state streaming
    dedup (Spark 3.5+). st04's plain ``dropDuplicates`` keeps every
    key seen FOREVER — state grows with the stream and eventually
    OOMs a 100 TB replay; the within-watermark variant evicts a key
    once the watermark passes its first-seen event time + delay,
    which is the production shape when duplicates arrive close
    together (at-least-once sources re-deliver within seconds). The
    replay doubles every record with a +1..5-minute timestamp jitter
    (inside the 2h watermark, so every duplicate IS caught) and the
    deduped profile must equal the plain batch profile.

    Scale posture (both fixed by the r6 sf10 rehearsal, which OOMed an
    8g heap at 20M doubled records): (1) the state store is pinned to
    ROCKSDB for this query — HDFSBackedStateStore keeps every
    in-flight key on-heap, RocksDB keeps them off-heap and spills to
    disk, which is the production choice whenever state ~ stream
    volume; (2) the deduped stream lands in a PARQUET sink (scratch
    dir) and only the 5-row profile is aggregated from it — a memory
    sink would materialize the whole deduped corpus in the driver.

    State partitioning is sized to STATE VOLUME via
    :func:`..streaming.aggregates.state_partitions_for`, the st07
    precedent (VERDICT r8 item 2): dedup state holds one entry per
    in-flight key, and an availableNow whole-corpus replay keeps
    EVERY key's first-seen row until the final watermark advance, so
    state tracks source bytes exactly like the join's buffers.
    ``target_bytes`` is halved vs st07 because the explode doubles
    every source record before the dedup (2x keys per source byte).
    Measured at sf100 (100M source -> 200M doubled records, fresh JVM
    per sample, interleaved same-host): 32 session-default partitions
    141.8-170.1 s; sized 60 partitions 112.9-130.0 s — every adjacent
    pair favors sized, ~1.25x, best 112.9 s = 45.5x at 1000x data
    (BASELINE.md round-9 notes)."""
    configure(spark)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    n_state = state_partitions_for(spark, sf_dir, target_bytes=32 << 20)
    spark.conf.set("spark.sql.shuffle.partitions", str(n_state))
    # everything after the conf override sits inside the try (the
    # st07 shape): stream_events eagerly sniffs the parquet footer,
    # and an exception there must not leak the overridden shuffle
    # conf into the session
    try:
        doubled = (
            stream_events(spark, sf_dir)
            .withColumn("_copy", F.explode(F.array(F.lit(0), F.lit(1))))
            .withColumn(
                "ts",
                F.col("ts")
                + F.make_dt_interval(
                    F.lit(0),
                    F.lit(0),
                    F.when(
                        F.col("_copy") == 1, (F.col("event_id") % 5) + 1
                    ).otherwise(F.lit(0)),
                    F.lit(0),
                ),
            )
            .drop("_copy")
        )
        with _rocksdb_state_store(spark):
            deduped = _run_to_scratch(
                doubled.withWatermark("ts", "2 hours")
                .dropDuplicatesWithinWatermark(["event_id"])
                .select("event_id", "event_type"),
                spark,
                _ST08_DIRS,
                "st08_dedup_",
                "append",
            )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return (
        deduped.groupBy("event_type")
        .agg(F.count("*").alias("n"), F.count_distinct("event_id").alias("nd"))
        .orderBy("event_type")
    )


SQL_STREAM_DEDUP_WM = """
SELECT event_type, COUNT(*) AS n, COUNT(DISTINCT event_id) AS nd
FROM events GROUP BY event_type ORDER BY event_type
"""


# Scratch roots for the replay queries. The PREVIOUS run's dir is
# removed on the next call (the returned DataFrame reads the sunk
# parquet lazily, so the current one must outlive the call); whatever
# remains — at most one dir per query — is removed at interpreter
# exit so repeated invocations can't accumulate parquet/checkpoints.
_ST02_DIRS = _scratch.registry()
_ST03_DIRS = _scratch.registry()
_ST04_DIRS = _scratch.registry()
_ST05_DIRS = _scratch.registry()
_ST06_DIRS = _scratch.registry()
_ST07_DIRS = _scratch.registry()
_ST08_DIRS = _scratch.registry()
_ST09_DIRS = _scratch.registry()
_ST10_DIRS = _scratch.registry()

# rotation + exit-time cleanup live in plans._scratch (one registry
# mechanism for all plans modules — r13 review)
_new_scratch = _scratch.new_scratch


def q_stream_kayvee_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's ENTIRE hot path in its real streaming form,
    under the oracle gate: synthesized kayvee lines replayed as a text
    file stream through parse → route fan-out → projection →
    ``foreachBatch`` MetricsSink (DD parquet transport, retry, DLQ,
    A2 gauge — alerts_consumer.go:55-231), then the sunk DD points
    aggregated exactly like batch kv01. Shares kv01's oracle SQL, so
    the driver's hash compare is the streaming/batch equivalence
    theorem for the full pipeline — not just the window aggregates
    (st01/st02).

    Runs on a deterministic ~20% md5 hash-sample of events (the llm16
    retry-stable sampling pattern, mirrored in the oracle): the full
    replay costs ~16 s at sf0.1 — pure data volume, nothing a warm run
    amortizes — and the sample exercises every pipeline branch
    (md5-keyed, so it is decorrelated from the %2/%3/%5/%7 moduli that
    drive route/dim/stat_type variety in the synthesized lines)."""
    from .kayvee_queries import _kv01_lines, _tables

    t = _tables(spark, sf_dir)
    t = dict(t)
    t["events"] = t["events"].filter(
        F.substring(F.md5(F.col("event_id").cast("string")), 1, 2) < "33"
    )
    root = _new_scratch(_ST05_DIRS, "st05_kayvee_")
    src = f"{root}/src"
    _kv01_lines(t["events"]).write.mode("overwrite").text(src)

    from ..streaming.pipeline import replay_lines

    q = replay_lines(
        spark, src, f"{root}/out", f"{root}/ckpt", deploy_env="production"
    )
    _await(q)
    dd = spark.read.parquet(f"{root}/out/dd")
    return (
        dd.select(
            "metric",
            "mtype",
            F.concat_ws(",", "tags").alias("tags"),
            "ts",
            "value",
        )
        .groupBy("metric", "mtype", "tags")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 2).alias("sum_value"),
            F.min("ts").alias("first_ts"),
            F.max("ts").alias("last_ts"),
        )
        .orderBy("metric", "mtype", "tags")
    )


def _st05_oracle() -> str:
    from .kayvee_queries import SQL_KAYVEE_ROUTE_PROJECT

    return SQL_KAYVEE_ROUTE_PROJECT.replace(
        "FROM events",
        "FROM events"
        " WHERE substr(md5(CAST(event_id AS VARCHAR)), 1, 2) < '33'",
        1,
    )


def q_stream_volume_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 volume rollup in the reference's PROCESSING-TIME mode under
    the oracle gate: line replay → per-micro-batch (env, app, team)
    deltas appended per tick (metrics.go:79-103; each micro-batch is
    the 1-minute tick), then the shipped ticks re-summed. The re-sum
    equals the batch aggregate REGARDLESS of how the replay split into
    batches — which is exactly A1's accumulate/ship/reset invariant,
    so the hash compare proves tick-splitting loses nothing. Same ~20%
    md5 event sample as st05 (mirrored in the oracle)."""
    from .kayvee_queries import _tables, _vol_lines

    t = dict(_tables(spark, sf_dir))
    t["events"] = t["events"].filter(
        F.substring(F.md5(F.col("event_id").cast("string")), 1, 2) < "33"
    )
    root = _new_scratch(_ST06_DIRS, "st06_volume_")
    src = f"{root}/src"
    _vol_lines(t["events"]).write.mode("overwrite").text(src)

    from ..streaming.pipeline import volume_rollup_processing_time

    q = volume_rollup_processing_time(
        spark, src, f"{root}/out", f"{root}/ckpt", deploy_env="production"
    )
    _await(q)
    ticks = spark.read.parquet(f"{root}/out")
    return (
        ticks.groupBy("env", "app", "team")
        .agg(
            F.sum("cnt").cast("bigint").alias("cnt"),
            F.sum("size").cast("bigint").alias("size"),
        )
        .orderBy("env", "app", "team")
    )


def _st06_oracle() -> str:
    from .kayvee_queries import SQL_LOG_VOLUME

    return SQL_LOG_VOLUME.replace(
        "FROM events",
        "FROM events"
        " WHERE substr(md5(CAST(event_id AS VARCHAR)), 1, 2) < '33'",
        1,
    )


def q_stream_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """st09 (r13) — streaming ingest dedup against a STATIC corpus
    index: the stream-static pattern llm40 serves in batch, run as a
    real Structured Streaming job. The documents table replays as a
    file stream standing in for the ingest feed (ids remapped
    +2,000,000; the first 20 docs mutated with the llm03 device so
    the result carries near-dups, not just exact twins); each
    micro-batch runs :func:`~..operators.dedup.lsh_incremental_pairs`
    in ``foreachBatch`` against the prebuilt
    :func:`~..operators.dedup.lsh_build_index` table — built once
    BEFORE the stream starts and read back from parquet, exactly the
    deployment shape (an index recomputed inside foreachBatch would
    re-pay the corpus signature pass every micro-batch via lineage).

    Batch-boundary invariance is the theorem the oracle compare
    proves: a pair depends only on (new doc, corpus), so the union of
    per-batch probe results equals the one-shot batch llm40 run no
    matter how the stream is chopped. Each batch overwrites its OWN
    ``b{batch_id}`` subdir (replay-idempotent, the complete-mode
    device of ``_run_to_scratch`` applied per batch since batch
    contents are disjoint by construction); the sunk pairs are read
    back as one table. Result rows grow with the data — parquet
    scratch, never the memory sink (the st04 lesson)."""
    import os

    from ..operators.dedup import lsh_build_index, lsh_incremental_pairs

    configure(spark)
    path = os.path.join(sf_dir, "documents.parquet")
    old = spark.read.parquet(path).select("doc_id", "text")
    root = _new_scratch(_ST09_DIRS, "st09_incdedup_")
    idx_path = os.path.join(root, "index")
    lsh_build_index(old, bands=2, rows_per_band=2, shingle=3) \
        .write.partitionBy("band").parquet(idx_path)
    idx = spark.read.parquet(idx_path)

    stream = (
        spark.readStream.schema(spark.read.parquet(path).schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
        .select("doc_id", "text")
    )
    ws = F.split(F.col("text"), " ")
    new_stream = stream.select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"),
        F.when(
            (F.col("doc_id") < 20) & (F.size(ws) > 2),
            F.concat_ws(" ", F.slice(ws, 1, F.size(ws) - 2)),
        ).otherwise(F.col("text")).alias("text"),
    )
    out = os.path.join(root, "out")

    def _probe(batch_df: DataFrame, batch_id: int) -> None:
        pairs = lsh_incremental_pairs(
            batch_df, old, shingle=3, threshold=0.5, max_bucket=64,
            index=idx)
        pairs.write.mode("overwrite").parquet(
            os.path.join(out, f"b{batch_id}"))

    q = (
        new_stream.writeStream.foreachBatch(_probe)
        .option("checkpointLocation", os.path.join(root, "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    _await(q)
    return spark.read.parquet(*_batch_dirs(out)).orderBy("a", "b")


def absorbing_dedup_step(
    spark: SparkSession,
    batch_df: DataFrame,
    batch_id: int,
    idx_path: str,
    corpus_path: str,
    out_dir: str,
    bands: int = 2,
    rows_per_band: int = 2,
    shingle: int = 3,
    threshold: float = 0.5,
    max_bucket: int | None = 64,
) -> None:
    """One micro-batch of the absorbing-dedup lifecycle (the
    ``foreachBatch`` body of st10, module-level so pytest drives the
    SAME code path through a multi-batch stream): probe the standing
    index for near-dups vs corpus + every earlier batch, dedup
    within the batch, sink the normalized union to
    ``out_dir/b{batch_id}``, then absorb the batch into the index
    and corpus tables. Pairs are sunk BEFORE the absorb — the probe
    must see the pre-absorb state, or the batch's own rows alias its
    within-batch pairs."""
    import os

    from ..operators.dedup import (
        checkpoint_index,
        jaccard_pairs,
        lsh_build_index,
        lsh_candidate_pairs,
        lsh_incremental_pairs,
        lsh_index_absorb,
    )

    # reads created HERE so each batch lists the index/corpus as of
    # now (i.e. including every earlier batch's absorb)
    corpus = spark.read.parquet(corpus_path)
    idx = spark.read.parquet(idx_path)
    # the batch's band table, computed ONCE and fed to the probe,
    # the within-batch pass, AND the absorb — without this the
    # lifecycle paid the batch signature pass three times per batch.
    # checkpoint_index carries the build-site geometry, so neither
    # consumer re-reads max(band) from the checkpoint
    batch_idx = checkpoint_index(lsh_build_index(
        batch_df, bands=bands, rows_per_band=rows_per_band,
        shingle=shingle))
    if not batch_idx.take(1):
        # a degenerate batch (empty, or every doc shorter than the
        # shingle) has no band rows: nothing can pair, and the
        # geometry validators would (correctly) refuse an empty
        # table — sink an empty result and still absorb the text so
        # the corpus stays complete
        spark.createDataFrame([], "a long, b long, jaccard double") \
            .write.mode("overwrite").parquet(
                os.path.join(out_dir, f"b{batch_id}"))
        lsh_index_absorb(batch_df, idx_path, corpus_path, batch_idx)
        return
    probe = lsh_incremental_pairs(
        batch_df, corpus, shingle=shingle, threshold=threshold,
        max_bucket=max_bucket, index=idx, new_index=batch_idx)
    cands = lsh_candidate_pairs(
        batch_df, bands=bands, rows_per_band=rows_per_band,
        shingle=shingle, max_bucket=max_bucket, index=batch_idx)
    within = jaccard_pairs(batch_df, cands, shingle=shingle,
                           threshold=threshold)
    # normalize orientation: probe emits (earlier, newer), which
    # across absorbed batches need not be (smaller, larger) id
    pairs = probe.unionByName(within).select(
        F.least("a", "b").alias("a"),
        F.greatest("a", "b").alias("b"),
        "jaccard",
    )
    pairs.write.mode("overwrite").parquet(
        os.path.join(out_dir, f"b{batch_id}"))
    lsh_index_absorb(batch_df, idx_path, corpus_path, batch_idx)


def q_stream_absorbing_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """st10 (r14) — the GROWING-index streaming dedup: each
    micro-batch (1) probes the durable index for near-dups against
    the corpus AND every earlier batch
    (:func:`~..operators.dedup.lsh_incremental_pairs`), (2) dedups
    WITHIN itself (the batch's own
    :func:`~..operators.dedup.lsh_candidate_pairs` + exact-Jaccard
    verify — the pair class st09's static shape structurally cannot
    emit), then (3) is ABSORBED into the index and corpus tables
    (:func:`~..operators.dedup.lsh_index_absorb`), so the next batch
    dedups against it too. This is the complete production ingest
    lifecycle — build once, then probe+absorb per batch — and the
    union of per-batch outputs is exactly "every near-dup pair with
    at least one new member", however the stream is chopped, PROVIDED
    no bucket cap fires (capping is chop-dependent: each probe caps
    the index as of its batch; the stats lights announce when that is
    in play). The gated run pins ONE batch (the new docs written as a
    single parquet file, availableNow) so the capped form is
    oracle-exact: probe part under the OLD-side cap, self part under
    the NEW-side cap — ``absorbing_pairs_sql``. Multi-batch
    invariance WITH absorb is pinned in pytest on a never-capping
    fixture (tests/test_streaming.py).

    Fixture: all docs replayed at +2,000,000 (exact copies of the
    corpus → probe pairs at J=1.0) plus tail-chopped mutants of
    doc_id<20 at +3,000,000 (st09's mutation device) — the mutants
    near-dup BOTH their old original (probe part) and their
    within-batch +2M copy (self part), so every pair class the
    operator claims is present in the result. Absorb appends are not
    replay-idempotent (a crashed-and-replayed batch would
    double-append); a deployment sinks appends under batch-id-keyed
    subpaths or a commit protocol — out of scope for the
    availableNow gate, documented here for honesty."""
    import os

    from ..operators.dedup import lsh_build_index
    from ..operators.util import run_overlapped

    configure(spark)
    path = os.path.join(sf_dir, "documents.parquet")
    old = spark.read.parquet(path).select("doc_id", "text")
    root = _new_scratch(_ST10_DIRS, "st10_absorb_")
    idx_path = os.path.join(root, "index")
    corpus_path = os.path.join(root, "corpus")

    # the new batch, written as ONE file so availableNow replays it
    # as ONE deterministic micro-batch (the capped oracle models a
    # single absorb step)
    ws = F.split(F.col("text"), " ")
    copies = old.select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"), "text")
    mutants = old.filter(F.col("doc_id") < 20).select(
        (F.col("doc_id") + 3_000_000).alias("doc_id"),
        F.when(F.size(ws) > 2,
               F.concat_ws(" ", F.slice(ws, 1, F.size(ws) - 2)))
        .otherwise(F.col("text")).alias("text"),
    )
    src = os.path.join(root, "src")
    # three independent setup writes (index, corpus copy, replay src)
    # to disjoint dirs — overlapped driver threads (guide §2.6, the
    # r15 driver-gap work): each chain's planning gap hides behind
    # another's tasks
    run_overlapped(
        lambda: lsh_build_index(old, bands=2, rows_per_band=2, shingle=3)
        .write.partitionBy("band").parquet(idx_path),
        lambda: old.write.parquet(corpus_path),
        lambda: copies.unionByName(mutants).coalesce(1).write.parquet(src),
    )

    out = os.path.join(root, "out")

    def _step(batch_df: DataFrame, batch_id: int) -> None:
        absorbing_dedup_step(
            spark, batch_df, int(batch_id), idx_path, corpus_path,
            out, bands=2, rows_per_band=2, shingle=3,
            threshold=0.5, max_bucket=64)

    stream = (
        spark.readStream
        .schema(spark.read.parquet(src).schema)
        .parquet(src)
    )
    q = (
        stream.writeStream.foreachBatch(_step)
        .option("checkpointLocation", os.path.join(root, "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    _await(q)
    return spark.read.parquet(*_batch_dirs(out)).orderBy("a", "b")


# the oracle is llm40's full-recompute template (shared so the
# shingle/minhash/band recipe has ONE edit site — r13 review); only
# the new-batch CTE differs: ALL docs remapped, first 20 mutated
from .llm_queries import incremental_near_dup_sql  # noqa: E402

SQL_STREAM_INCREMENTAL_DEDUP = incremental_near_dup_sql("""
  SELECT doc_id + 2000000 AS doc_id,
         CASE WHEN doc_id < 20 AND len(ws) > 2
              THEN array_to_string(ws[1:len(ws)-2], ' ')
              ELSE text END AS text
  FROM (SELECT doc_id, text, string_split(text, ' ') AS ws
        FROM documents)""")

# st10's oracle: the absorbing template (probe part + within-batch
# part, each under its own side's cap) over the same replay device —
# exact copies at +2M plus tail-chopped mutants of doc_id<20 at +3M
from .llm_queries import absorbing_pairs_sql  # noqa: E402

SQL_STREAM_ABSORBING_DEDUP = absorbing_pairs_sql("""
  SELECT doc_id + 2000000 AS doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 3000000 AS doc_id,
         CASE WHEN len(ws) > 2
              THEN array_to_string(ws[1:len(ws)-2], ' ')
              ELSE text END AS text
  FROM (SELECT doc_id, text, string_split(text, ' ') AS ws
        FROM documents WHERE doc_id < 20)""")


STREAMING_QUERIES: dict[str, tuple] = {
    "st01_stream_hourly_rollup": (q_stream_hourly_rollup, SQL_STREAM_HOURLY),
    "st02_stream_sessions": (q_stream_sessions, SQL_STREAM_SESSIONS),
    "st03_stream_stateful_totals": (q_stream_stateful_totals, SQL_STREAM_STATEFUL),
    "st04_stream_dedup": (q_stream_dedup, SQL_STREAM_DEDUP),
    "st05_stream_kayvee_pipeline": (q_stream_kayvee_pipeline, _st05_oracle()),
    "st06_stream_volume_rollup": (q_stream_volume_rollup, _st06_oracle()),
    "st07_stream_stream_join": (q_stream_stream_join, SQL_STREAM_STREAM_JOIN),
    "st08_stream_dedup_within_wm": (
        q_stream_dedup_within_watermark,
        SQL_STREAM_DEDUP_WM,
    ),
    # st09 debuted r13 outside the window; seated in the r14 driver
    # window. Pytest oracle twin: test_streaming_oracle_twin_smoke
    # (added per ADVICE r13 — the claim was previously covered only by
    # the in-session full-surface verifies)
    "st09_stream_incremental_dedup": (
        q_stream_incremental_dedup,
        SQL_STREAM_INCREMENTAL_DEDUP,
    ),
    # st10 debuts r14 outside the window (pytest oracle twin +
    # three-SF matches in the debut commit; first driver seat r15+)
    "st10_stream_absorbing_dedup": (
        q_stream_absorbing_dedup,
        SQL_STREAM_ABSORBING_DEDUP,
    ),
}
