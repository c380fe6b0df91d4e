"""Streaming equivalence: the streaming pipeline over a bounded replay
must match the batch answers (SURVEY.md §5.2 item 3).

- full record pipeline: availableNow replay of a line directory ->
  MetricsSink parquet == batch dd_points of the same lines;
- hourly rollup stream == DQ6 batch result;
- session-window stream == DQ9 batch session count per user.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from kinesis_alerts_consumer_spark.pipeline import dd_points, process_lines
from kinesis_alerts_consumer_spark.sources import register_tables
from kinesis_alerts_consumer_spark.streaming.aggregates import (
    hourly_type_rollup,
    stream_events,
    user_sessions,
)
from kinesis_alerts_consumer_spark.streaming.pipeline import replay_lines

from .conftest import SF_BENCH, SF_SMOKE

H = "2017-08-15T18:39:07.000000+00:00 host{i} prod--app{i}/arn[1]: "


def make_lines(n):
    out = []
    for i in range(n):
        body = {
            "value": i,
            "district": f"d{i % 3}",
            "_kvmeta": {
                "team": "t",
                "routes": [
                    {
                        "type": "alerts",
                        "series": f"series-{i % 5}",
                        "dimensions": ["district"],
                        "stat_type": "counter" if i % 2 else "gauge",
                        "value_field": "value",
                        "rule": f"rule-{i % 5}",
                    }
                ],
            },
        }
        out.append(H.format(i=i) + json.dumps(body))
    # plus records exercising quarantine and ignore paths
    out.append("garbage line")
    out.append(H.format(i=0) + '{"_kvmeta":{"routes":[]}}')
    return out


def canon(rows):
    return sorted(
        (r["tag"], r["metric"], r["mtype"], tuple(r["tags"]), r["ts"], r["value"])
        for r in rows
    )


def test_replay_matches_batch(spark, tmp_path):
    lines = make_lines(40)
    src = tmp_path / "src"
    src.mkdir()
    (src / "part-0.txt").write_text("\n".join(lines[:20]) + "\n")
    (src / "part-1.txt").write_text("\n".join(lines[20:]) + "\n")

    out_dir = str(tmp_path / "out")
    q = replay_lines(
        spark, str(src), out_dir, str(tmp_path / "ckpt"), deploy_env="test-env"
    )
    q.awaitTermination(120)

    got = canon(
        r.asDict(recursive=True)
        for r in spark.read.parquet(os.path.join(out_dir, "dd")).select(
            "tag", "metric", "mtype", "tags", "ts", "value"
        ).collect()
    )
    batch_df = process_lines(
        spark.createDataFrame([(l,) for l in lines], "value string"),
        "value", "test-env",
    )
    want = canon(
        r.asDict(recursive=True) for r in dd_points(batch_df).collect()
    )
    assert got == want and len(got) == 40

    quar = spark.read.parquet(os.path.join(out_dir, "quarantine"))
    assert quar.count() == 1
    import glob

    gauges = []
    for p in sorted(glob.glob(os.path.join(out_dir, "gauges", "*.json"))):
        with open(p) as fh:
            gauges.extend(json.loads(l) for l in fh)
    assert gauges and all(g["gauge"] == "max_log_delay" for g in gauges)
    assert all(g["value"] >= 0 for g in gauges)


def test_replay_spread_matches_unspread(spark, tmp_path):
    """A 2-file micro-batch scans as two splits, so ``replay_lines``
    spreads it over every core before the projection. The sink's
    dd/quarantine/cw rows are identical with the spread on and with
    ``spark.graft.spreadForCompute=off``."""
    lines = make_lines(40) + [
        H.format(i=i) + json.dumps({
            "title": f"t{i}", "dimension1": f"dim-{i}", "value": 1,
            "region": ("us-west-1", "eu-west-1")[i % 2],
            "_kvmeta": {"team": "t", "routes": [{
                "type": "alerts", "series": "ContainerExitCount",
                "dimensions": ["dimension1"], "stat_type": "counter",
                "value_field": "value", "rule": "unexpected-stop"}]},
        })
        for i in range(6)
    ]
    src = tmp_path / "src"
    src.mkdir()
    (src / "part-0.txt").write_text("\n".join(lines[::2]) + "\n")
    (src / "part-1.txt").write_text("\n".join(lines[1::2]) + "\n")
    assert spark.read.text(str(src)).rdd.getNumPartitions() * 2 <= (
        spark.sparkContext.defaultParallelism)

    def replay(name):
        out = str(tmp_path / name)
        replay_lines(spark, str(src), out, str(tmp_path / f"ck-{name}"),
                     deploy_env="test-env").awaitTermination(120)
        return {
            kind: sorted(
                json.dumps(r.asDict(recursive=True), sort_keys=True,
                           default=str)
                for r in spark.read.parquet(os.path.join(out, kind)).collect()
            )
            for kind in ("dd", "quarantine", "cw")
        }

    spread = replay("spread")
    spark.conf.set("spark.graft.spreadForCompute", "off")
    try:
        unspread = replay("unspread")
    finally:
        spark.conf.unset("spark.graft.spreadForCompute")
    assert spread == unspread
    assert [len(spread[k]) for k in ("dd", "quarantine", "cw")] == [46, 1, 6]


def test_hourly_rollup_stream_matches_batch(spark, tmp_path):
    register_tables(spark, SF_SMOKE)
    q = (
        hourly_type_rollup(stream_events(spark, SF_SMOKE))
        .writeStream.format("memory")
        .queryName("rollup_stream")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ck1"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.w, r.event_type): (r.cnt, r.sv)
        for r in spark.sql("select * from rollup_stream").collect()
    }
    want = {
        (r.w, r.event_type): (r.cnt, r.sv)
        for r in spark.sql(
            "SELECT date_trunc('hour', ts) AS w, event_type, COUNT(*) AS cnt,"
            " ROUND(SUM(value),2) AS sv FROM events GROUP BY 1,2"
        ).collect()
    }
    assert got == want and len(got) > 0


def test_session_window_stream_matches_batch_sessionization(spark, tmp_path):
    register_tables(spark, SF_SMOKE)
    q = (
        user_sessions(stream_events(spark, SF_SMOKE))
        .writeStream.format("memory")
        .queryName("sessions_stream")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ck2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = (
        spark.sql("select * from sessions_stream")
        .groupBy("user_id")
        .agg(F.count("*").alias("sessions"), F.sum("n").alias("events"))
    )
    got = {r.user_id: (r.sessions, r.events) for r in got.collect()}

    want_df = spark.sql(
        """
        WITH g AS (
          SELECT user_id, ts,
                 CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                      > INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS brk, event_id
          FROM events),
        s AS (
          SELECT user_id, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                         ROWS UNBOUNDED PRECEDING) AS sess
          FROM g)
        SELECT user_id, COUNT(DISTINCT sess) AS sessions, COUNT(*) AS events
        FROM s GROUP BY user_id
        """
    )
    want = {r.user_id: (r.sessions, r.events) for r in want_df.collect()}
    assert got == want and len(got) > 0


def test_self_instrumentation_listener_loop(spark, tmp_path):
    """K3 loop: a real streaming query's progress events become kayvee
    'stats' lines which route through the engine's OWN pipeline via
    the kvconfig-style self rules into kv.…stats counter points."""
    import time

    from kinesis_alerts_consumer_spark.operators.rules import (
        SELF_INSTRUMENTATION_RULES,
    )
    from kinesis_alerts_consumer_spark.operators.routing import routed
    from kinesis_alerts_consumer_spark.operators.rules import (
        with_config_routes,
    )
    from kinesis_alerts_consumer_spark.operators.project import project_routes
    from kinesis_alerts_consumer_spark.streaming.listener import (
        EngineMetricsListener,
    )

    listener = EngineMetricsListener()
    spark.streams.addListener(listener)
    try:
        q = (
            hourly_type_rollup(stream_events(spark, SF_SMOKE))
            .writeStream.format("memory")
            .queryName("selfinstr_sink")
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        # listener callbacks are async; wait for at least one line
        for _ in range(60):
            if listener.snapshot():
                break
            time.sleep(0.5)
    finally:
        spark.streams.removeListener(listener)

    lines = listener.snapshot()
    assert lines, "no progress lines captured"
    body = json.loads(lines[0].split("[1]: ", 1)[1])
    assert body["title"] == "stats" and body["value"] >= 0

    df = spark.createDataFrame([(x,) for x in lines], "value string")
    parsed = process_lines(df, "value", "production")
    routed_df = with_config_routes(parsed, SELF_INSTRUMENTATION_RULES)
    pts = dd_points(project_routes(routed(routed_df)))
    rows = pts.collect()
    assert rows, "self lines produced no metric points"
    assert all(
        r.metric == "kv.kinesis-alerts-consumer.stats" for r in rows
    )
    tags = set(rows[0].tags)
    assert any(t.startswith("Hostname:spark-engine") for t in tags)
    assert any(t.startswith("env:production") for t in tags)


def test_volume_processing_time_vs_event_time(spark, tmp_path):
    """Reference A1 fidelity (metrics.go:79-103): in processing-time
    mode a LATE record counts in the tick it arrives in (per-batch
    accumulate/ship/reset), and a replay of the same batches
    overwrites each batch's rollup instead of appending to it.
    Replay: batch 0 = two records at T0; batch 1 = one late record
    (T0) + one at T1. The event-time rollup, which re-buckets the
    late record into its old window, is st01."""
    from kinesis_alerts_consumer_spark.streaming.pipeline import (
        volume_rollup_processing_time,
    )

    T0 = "2017-08-15T18:00:00.000000+00:00"
    T1 = "2017-08-15T19:00:00.000000+00:00"

    def line(ts):
        body = {"team": "team-a", "_kvmeta": {"team": "t", "routes": []}}
        return f"{ts} host prod--app/arn[1]: " + json.dumps(body)

    src = tmp_path / "src"
    src.mkdir()
    (src / "part-0.txt").write_text("\n".join([line(T0), line(T0)]) + "\n")
    (src / "part-1.txt").write_text("\n".join([line(T0), line(T1)]) + "\n")
    os.utime(src / "part-0.txt", (1, 1))  # deterministic batch order

    # processing-time mode: each batch ships its OWN records
    out = str(tmp_path / "vol")
    q = volume_rollup_processing_time(
        spark, str(src), out, str(tmp_path / "ckpt_v"),
        deploy_env="test-env", max_files_per_trigger=1,
    )
    q.awaitTermination(120)
    per_batch = {
        r.batch_id: r.cnt
        for r in spark.read.parquet(out).filter(F.col("team") == "team-a").collect()
    }
    # two ticks, two records each: the late T0 record stayed in ITS
    # arrival tick instead of joining the other T0 records
    assert sorted(per_batch.values()) == [2, 2] and len(per_batch) == 2

    # at-least-once replay safety: re-running the same batches (fresh
    # checkpoint -> same batch ids) overwrites each batch's own
    # partition instead of appending duplicate rollup rows
    q2 = volume_rollup_processing_time(
        spark, str(src), out, str(tmp_path / "ckpt_v2"),
        deploy_env="test-env", max_files_per_trigger=1,
    )
    q2.awaitTermination(120)
    replayed = (
        spark.read.parquet(out).filter(F.col("team") == "team-a").collect()
    )
    assert sorted(r.cnt for r in replayed) == [2, 2] and len(replayed) == 2


def test_metrics_sink_rejects_object_store_out_dir(tmp_path):
    """The sink's staging/stale-partition cleanup is local-fs shutil;
    an object-store out_dir must fail at CONSTRUCTION (ADVICE r10),
    not silently leak stage dirs. file:// is local and accepted."""
    import pytest

    from kinesis_alerts_consumer_spark.streaming.sinks import MetricsSink

    for uri in ("s3://bucket/metrics", "s3a://bucket/m", "gs://b/m",
                "abfss://c@a.dfs.example/m", "hdfs://nn/metrics",
                # r11 review: the `://`-only guard let these through —
                # Hadoop single-slash URIs and RFC-3986 case-insensitive
                # schemes must be caught too
                "s3:/bucket/metrics", "S3A://bucket/m", "HDFS://nn/m",
                # a remote file authority is not shutil-deletable either
                "file://some-host/metrics"):
        with pytest.raises(ValueError, match="local"):
            MetricsSink(out_dir=uri)
    # local paths and file URIs pass; file URIs are resolved so shutil
    # and Spark address the same directory (single-slash, empty
    # authority, and localhost forms all mean the local fs)
    assert MetricsSink(out_dir=str(tmp_path)).out_dir == str(tmp_path)
    for uri in (f"file://{tmp_path}/out", f"file:{tmp_path}/out",
                f"file://localhost{tmp_path}/out"):
        assert MetricsSink(out_dir=uri).out_dir == f"{tmp_path}/out", uri
    # percent-escapes decode the way Hadoop/Spark decode them (ADVICE
    # r11): an undecoded path would point shutil cleanup at a
    # different directory than the one Spark writes
    for uri in (f"file://{tmp_path}/pct%20dir",
                f"file:{tmp_path}/pct%20dir",
                f"file://localhost{tmp_path}/pct%20dir"):
        assert MetricsSink(out_dir=uri).out_dir == f"{tmp_path}/pct dir", uri


def test_metrics_sink_idempotent_replay(spark, tmp_path):
    """foreachBatch re-runs a failed micro-batch with the SAME
    batch_id; the sink must not double-deliver. Same batch_id twice ->
    one copy; a new batch_id -> appended."""
    from kinesis_alerts_consumer_spark.streaming.sinks import MetricsSink

    lines = make_lines(10)
    batch = process_lines(
        spark.createDataFrame([(l,) for l in lines], "value string"),
        "value", "test-env",
    )
    sink = MetricsSink(out_dir=str(tmp_path / "out"))
    sink.process_batch(batch, batch_id=0)
    sink.process_batch(batch, batch_id=0)  # replay of the same batch
    dd = spark.read.parquet(str(tmp_path / "out" / "dd"))
    n_once = dd.count()
    assert dd.filter(F.col("batch_id") == 0).count() == n_once == 10
    quar = spark.read.parquet(str(tmp_path / "out" / "quarantine"))
    assert quar.count() == 1

    sink.process_batch(batch, batch_id=1)  # genuinely new batch
    assert spark.read.parquet(str(tmp_path / "out" / "dd")).count() == 20
    import glob

    gauge_files = glob.glob(str(tmp_path / "out" / "gauges" / "*.json"))
    assert len(gauge_files) == 2  # one per batch_id, replay overwrote


def test_metrics_sink_stage_dir_cleaned_even_if_staging_write_fails(
    spark, tmp_path
):
    """The staging parquet write sits INSIDE the try/finally (ADVICE
    r9): a batch whose evaluation fails mid-write must not leak its
    stage dir — a later healthy run of a DIFFERENT batch_id would
    otherwise never clean it up."""
    import pytest

    from kinesis_alerts_consumer_spark.streaming.sinks import MetricsSink

    lines = make_lines(4)
    batch = process_lines(
        spark.createDataFrame([(l,) for l in lines], "value string"),
        "value", "test-env",
    ).withColumn(
        # evaluation bomb: raise_error fires when the staging write
        # actually evaluates rows, exactly the mid-write failure shape
        "boom",
        F.raise_error(F.lit("staging write failure (test)")),
    )
    out = tmp_path / "out"
    sink = MetricsSink(out_dir=str(out))
    with pytest.raises(Exception, match="staging write failure"):
        sink.process_batch(batch, batch_id=7)
    stage = out / "stage" / "batch_id=7"
    assert not stage.exists(), "failed staging write leaked its dir"


def _day_ordered_stream(spark, tmp_path, files_per_trigger=2):
    """events replayed as one file per day, processed in day order
    with ``files_per_trigger`` files per micro-batch — the harness
    for cross-batch state tests. Day-ordering keeps every event ahead
    of the watermark (it only advances between batches), so results
    stay deterministic."""
    from kinesis_alerts_consumer_spark.sources import register_tables

    t = register_tables(spark, SF_SMOKE)
    ev = t["events"].withColumn("d", F.date_format("ts", "yyyy-MM-dd"))
    days = sorted(r.d for r in ev.select("d").distinct().collect())
    src = tmp_path / "days"
    src.mkdir()
    for i, day in enumerate(days):
        (
            ev.filter(F.col("d") == day)
            .drop("d")
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(str(tmp_path / f"stage{i}"))
        )
        import glob as g
        import shutil

        part = g.glob(str(tmp_path / f"stage{i}" / "part-*.parquet"))[0]
        shutil.copy(part, src / f"day-{i:03d}.parquet")

    stream = (
        spark.readStream.schema(ev.drop("d").schema)
        .option("maxFilesPerTrigger", files_per_trigger)
        .parquet(str(src))
        # parquet round-trip lands TIMESTAMP_NTZ; watermarks need
        # TIMESTAMP (session tz is pinned UTC, value-preserving) —
        # the same normalization stream_events applies
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    return stream, t["events"]


def test_stream_stream_join_multi_batch_matches_batch(spark, tmp_path):
    """st07's join state must survive ACROSS micro-batches: replaying
    events as day-ordered files with maxFilesPerTrigger=2 forces many
    batches, so a purchase early in day k+1 must still find clicks
    buffered from the day-k batch (retention), while the watermark
    evicts older state (eviction). Day-ordered files keep every event
    ahead of the watermark, so the multi-batch result must EQUAL the
    batch interval join — if state were dropped between batches,
    cross-batch pairs would vanish."""
    import uuid

    from kinesis_alerts_consumer_spark.streaming.aggregates import (
        purchase_click_join,
    )

    stream, events = _day_ordered_stream(spark, tmp_path)
    name = "st_" + uuid.uuid4().hex[:8]
    q = (
        purchase_click_join(stream)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300)
    n_batches = len(q.recentProgress)
    got = {
        (r.p_id, r.c_user, r.c_ts)
        for r in spark.table(name).collect()
    }
    want = {
        (r.p_id, r.c_user, r.c_ts)
        for r in purchase_click_join_batch(events).collect()
    }
    assert n_batches >= 5, f"only {n_batches} micro-batches — not multi-batch"
    assert got == want and len(got) > 0
    # state-boundedness: the watermark must have EVICTED old buffers —
    # final join state holds the trailing watermark window, nowhere
    # near one row per stream event (the O(window x rate) claim)
    state = json.loads(q.lastProgress.json)["stateOperators"][0]
    n_events = events.count()
    assert 0 < state["numRowsTotal"] < n_events / 2, state["numRowsTotal"]


def purchase_click_join_batch(events):
    """Batch twin of the streaming interval join (same condition)."""
    p = events.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
        F.col("event_id").alias("p_id"),
    )
    c = events.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
        F.col("value").alias("c_value"),
    )
    return p.join(
        c,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 30 MINUTES"))
        & (F.col("c_ts") <= F.col("p_ts")),
    )


def test_dedup_within_watermark_state_is_bounded(spark, tmp_path):
    """st08's scale claim, proven from the state-store metrics: plain
    dropDuplicates keeps one state row per key FOREVER (state ==
    total keys at stream end), while dropDuplicatesWithinWatermark
    evicts keys once the watermark passes — after a 30-day day-ordered
    replay with a 2 h watermark, the final state must hold roughly one
    day's keys, a small fraction of the total."""
    import uuid

    stream, events = _day_ordered_stream(spark, tmp_path)
    name = "st_" + uuid.uuid4().hex[:8]
    q = (
        stream.withWatermark("ts", "2 hours")
        .dropDuplicatesWithinWatermark(["event_id"])
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300)
    n_events = events.count()
    # no organic duplicates -> every event passes through exactly once
    assert spark.table(name).count() == n_events
    state = json.loads(q.lastProgress.json)["stateOperators"][0]
    assert 0 < state["numRowsTotal"] < n_events / 5, state["numRowsTotal"]
    assert state["numRowsRemoved"] > 0, "watermark never evicted state"


def test_scratch_sinks_multibatch_replay_idempotent(spark, tmp_path):
    """The _run_to_scratch idempotence arguments, exercised across a
    REAL multi-batch replay (one file per day, maxFilesPerTrigger=2):

    - complete mode (st02's session topology): every batch OVERWRITES
      the scratch with the full aggregate, so after ~15 batches the
      scratch must hold exactly the same sessions as a single-batch
      replay of the same files — overwrite accumulation can neither
      drop nor double anything;
    - update mode (st03's running-totals topology): per-batch update
      rows APPEND, so a user active on multiple days appears once per
      such batch (proving true appends happened), and the caller's
      monotone max must still equal the plain batch aggregate.
    """
    from kinesis_alerts_consumer_spark.plans.streaming_queries import (
        _run_to_scratch,
    )
    from kinesis_alerts_consumer_spark.streaming.aggregates import (
        user_sessions,
    )
    from kinesis_alerts_consumer_spark.streaming.stateful import (
        running_user_totals,
    )

    stream, events = _day_ordered_stream(spark, tmp_path)

    # -- complete mode: multi-batch vs single-batch session tables
    multi = {
        (r.user_id, r.session_start, r.n)
        for r in _run_to_scratch(
            user_sessions(stream),
            spark,
            [],
            "t_sess_multi_",
            "complete",
        ).collect()
    }
    single_stream = (
        spark.readStream.schema(
            spark.read.parquet(str(tmp_path / "days")).schema
        )
        .parquet(str(tmp_path / "days"))
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    single = {
        (r.user_id, r.session_start, r.n)
        for r in _run_to_scratch(
            user_sessions(single_stream),
            spark,
            [],
            "t_sess_single_",
            "complete",
        ).collect()
    }
    assert multi == single and multi

    # -- update mode: appended updates reduce to the batch aggregate
    updates = _run_to_scratch(
        running_user_totals(stream), spark, [], "t_tot_multi_", "update"
    )
    n_users = events.select("user_id").distinct().count()
    assert updates.count() > n_users, "no cross-batch update appends"
    got = {
        r.user_id: r.n_events
        for r in updates.groupBy("user_id")
        .agg(F.max("n_events").alias("n_events"))
        .collect()
    }
    want = {
        r.user_id: r.n
        for r in events.groupBy("user_id").agg(F.count("*").alias("n")).collect()
    }
    assert got == want


def test_checkpoint_recovery_chaos_exactly_once(spark, tmp_path):
    """Kill the st05-style replay MID-STREAM and restart from the same
    checkpoint: the final dd/ parquet must be identical to an
    uninterrupted run — the recovery-path proof that the batch_id-
    partition-overwrite idempotence survives a REAL restart, not just
    an in-run double call (test_metrics_sink_idempotent_replay).

    The crash is injected AFTER the sink fully processed batch 1 but
    BEFORE the checkpoint commits it, so the restarted query re-runs
    batch_id=1 against already-written output — the at-least-once
    replay case. A poisoned stale partition (dd/batch_id=1/tag=zzz,
    simulating a half-written attempt whose tag the replay no longer
    produces) must also be gone afterward: dynamic overwrite alone
    would leave it; the sink deletes the whole batch_id dir first."""
    import pyspark.errors

    from kinesis_alerts_consumer_spark.streaming.sinks import MetricsSink

    lines = make_lines(40)  # 42 with quarantine/ignore extras
    for variant in ("plain", "chaos"):
        src = tmp_path / variant / "src"
        src.mkdir(parents=True)
        for i in range(6):
            (src / f"part-{i}.txt").write_text(
                "\n".join(lines[i * 7 : (i + 1) * 7]) + "\n"
            )
        out = str(tmp_path / variant / "out")
        ckpt = str(tmp_path / variant / "ckpt")

        if variant == "plain":
            q = replay_lines(
                spark, str(src), out, ckpt,
                deploy_env="test-env", max_files_per_trigger=2,
            )
            assert q.awaitTermination(120)
            continue

        crashed = {"done": False}

        class CrashOnceSink(MetricsSink):
            def process_batch(self, projected, batch_id=0):
                super().process_batch(projected, batch_id)
                if batch_id == 1 and not crashed["done"]:
                    crashed["done"] = True
                    raise RuntimeError("injected crash after batch 1")

        q = replay_lines(
            spark, str(src), out, ckpt, deploy_env="test-env",
            sink=CrashOnceSink(out), max_files_per_trigger=2,
        )
        try:
            q.awaitTermination(120)
            raise AssertionError("query should have crashed")
        except pyspark.errors.exceptions.captured.StreamingQueryException:
            pass
        assert crashed["done"]
        # plant the stale half-written partition a code change between
        # attempts could leave behind
        spark.createDataFrame([("zzz",)], "poison string").withColumn(
            "batch_id", F.lit(1)
        ).withColumn("tag", F.lit("zzz")).write.mode("append").partitionBy(
            "batch_id", "tag"
        ).parquet(os.path.join(out, "dd"))

        q = replay_lines(
            spark, str(src), out, ckpt, deploy_env="test-env",
            sink=MetricsSink(out), max_files_per_trigger=2,
        )
        assert q.awaitTermination(120)

    read = lambda v: canon(  # noqa: E731
        r.asDict(recursive=True)
        for r in spark.read.parquet(
            str(tmp_path / v / "out" / "dd")
        ).select("tag", "metric", "mtype", "tags", "ts", "value").collect()
    )
    plain, chaos = read("plain"), read("chaos")
    assert chaos == plain and len(plain) == 40
    # the poisoned stale partition must have been wiped by the replay
    tags = {
        r.tag for r in spark.read.parquet(
            str(tmp_path / "chaos" / "out" / "dd")
        ).select("tag").distinct().collect()
    }
    assert "zzz" not in tags
    quar = spark.read.parquet(str(tmp_path / "chaos" / "out" / "quarantine"))
    assert quar.count() == 1


def test_streaming_oracle_twin_smoke(spark, duck):
    """Out-of-window drift guard (VERDICT r6 item 5): st05/st06 ride
    shared helpers (`_await`, the scratch-dir registry) that can churn
    in rounds where neither query is in the driver's correctness
    window — pin their oracle-twin hash equivalence at smoke sf in
    pytest so helper changes can't silently break them between
    rotations. Same compare device as the driver
    (column-name-sorted canonical rows).

    st09 added per ADVICE r13 (medium): it additionally rides
    `_scratch`/`lsh_incremental_pairs`, and its oracle compare IS the
    batch-boundary-invariance theorem — a regression in those helpers
    would otherwise ship unseen while st09 sits outside the window."""
    from kinesis_alerts_consumer_spark.plans.streaming_queries import (
        STREAMING_QUERIES,
    )

    from .comparison import assert_frames_match

    for name in ("st05_stream_kayvee_pipeline", "st06_stream_volume_rollup",
                 "st09_stream_incremental_dedup",
                 "st10_stream_absorbing_dedup"):
        fn, oracle = STREAMING_QUERIES[name]
        assert_frames_match(fn(spark, SF_SMOKE), duck, oracle, name=name)


def test_state_partitions_sized_to_source_volume(spark, tmp_path):
    """state_partitions_for, three measured regimes: floor of 8 at
    tiny state (per-store commit overhead dominates), at least the
    cluster parallelism at medium state (anything below it serializes
    cores — the r9 st08/st07 sf10 A/Bs), ~1 partition per 64 MB of
    source bytes at large state, capped at 4x the session shuffle
    default — headroom so volume sizing can engage past an undersized
    session default (the r9 st08 sf100 measurement), while a huge
    source still can't explode the task count (the cap rises with
    cluster-wide spark.sql.shuffle.partitions at scale)."""
    from kinesis_alerts_consumer_spark.streaming.aggregates import (
        state_partitions_for,
    )

    # real fixture dirs: every testdata sf is tiny -> the floor
    assert state_partitions_for(spark, SF_SMOKE) == 8
    assert state_partitions_for(spark, SF_BENCH) == 8

    # Pin the session knob explicitly so the expectations below are
    # CONCRETE regime-spec values, not a re-statement of the
    # implementation expression (the r9 review's tautology finding).
    cores = spark.sparkContext.defaultParallelism
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        big = tmp_path / "events.parquet"

        # medium state: 640 MB = 10 targets, below the core count ->
        # the spec says the CLUSTER PARALLELISM wins (10 would
        # serialize cores; the sf10 A/Bs measured 2-2.5x)
        with open(big, "wb") as f:
            f.truncate(640 << 20)  # sparse — no real disk cost
        got = state_partitions_for(spark, str(tmp_path))
        assert got == max(10, cores)

        # non-local URI with a filesystem impl on the classpath
        # (file:// stands in for s3://, hdfs://): os.path can't size
        # it, the Hadoop FileSystem fallback must — same answer
        assert state_partitions_for(spark, "file://" + str(tmp_path)) == got

        # runaway source under a TINY session default: the clamp may
        # bound task explosion but never undercut the cluster's own
        # parallelism (the review's small-cap serialization hole)
        with open(big, "wb") as f:
            f.truncate((64 << 20) * (100 * max(32, cores)))
        assert state_partitions_for(spark, str(tmp_path)) == max(32, cores)

        # large state with cap headroom (session default = core
        # count): volume drives the count PAST the core count — a
        # hard 1x-session cap made the st08 sf100 fix a no-op
        spark.conf.set("spark.sql.shuffle.partitions", str(cores))
        n_large = 2 * cores
        with open(big, "wb") as f:
            f.truncate((64 << 20) * n_large)
        assert state_partitions_for(spark, str(tmp_path)) == n_large

        # and the same headroom clamps at 4x
        with open(big, "wb") as f:
            f.truncate((64 << 20) * 100 * cores)
        assert state_partitions_for(spark, str(tmp_path)) == 4 * cores
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)

    # unsizable source (missing path / remote URI / permission error):
    # fall UP to the session shuffle default, never an exception — the
    # floor would recreate the under-partitioned large-state regime,
    # and the session default is the knob operators size to the
    # cluster, so an unsizable-but-huge source stays safe.
    cap = int(prev)
    assert state_partitions_for(spark, str(tmp_path / "nope")) == max(cap, 8)
    assert state_partitions_for(spark, "s3://no-such-bucket/sf") == max(cap, 8)


def test_st02_sizes_state_partitions_and_restores_conf(
    spark, tmp_path, monkeypatch
):
    """st02's session-window state is sized to source volume (VERDICT
    r9 item 2, the st07/st08 precedent). Same three-way proof shape as
    the st08 pin: the override engaged (sentinel partition count
    observed inside the stream start), the failure happened after it,
    and the restore still ran."""
    import pytest as _pytest

    import kinesis_alerts_consumer_spark.plans.streaming_queries as sq

    monkeypatch.setattr(sq, "state_partitions_for", lambda *a, **k: 13)
    seen: dict = {}

    def failing_run_to_scratch(df, spark_, dirs, prefix, mode):
        seen["during"] = spark_.conf.get("spark.sql.shuffle.partitions")
        raise RuntimeError("synthetic stream-start failure")

    monkeypatch.setattr(sq, "_run_to_scratch", failing_run_to_scratch)

    fn, _ = sq.STREAMING_QUERIES["st02_stream_sessions"]
    before = spark.conf.get("spark.sql.shuffle.partitions")
    assert before != "13"
    with _pytest.raises(RuntimeError, match="synthetic stream-start"):
        fn(spark, SF_SMOKE).collect()
    assert seen["during"] == "13", "override never engaged before failure"
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


def test_st08_restores_shuffle_conf_on_source_failure(
    spark, tmp_path, monkeypatch
):
    """The r9 review found st08 could leak its overridden
    spark.sql.shuffle.partitions if the eager source construction
    failed after the conf was set; the stream build now lives inside
    the try/finally. The test must prove three things, not just the
    last (a failure BEFORE the override would pass a naive
    before==after check vacuously): the override actually engaged
    (observed by the failing source builder itself, via a sentinel
    partition count no real config produces), the failure happened
    after it, and the restore still ran."""
    import pytest as _pytest

    import kinesis_alerts_consumer_spark.plans.streaming_queries as sq

    monkeypatch.setattr(
        sq, "state_partitions_for", lambda *a, **k: 13
    )
    seen: dict = {}

    def failing_source(spark_, sf_dir):
        seen["during"] = spark_.conf.get("spark.sql.shuffle.partitions")
        raise RuntimeError("synthetic source failure")

    monkeypatch.setattr(sq, "stream_events", failing_source)

    fn, _ = sq.STREAMING_QUERIES["st08_stream_dedup_within_wm"]
    before = spark.conf.get("spark.sql.shuffle.partitions")
    assert before != "13"
    with _pytest.raises(RuntimeError, match="synthetic source failure"):
        fn(spark, str(tmp_path / "no_such_sf_dir")).collect()
    assert seen["during"] == "13", "override never engaged before failure"
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


def test_st02_sentinel_only_scratch_flushes_all_sessions(spark):
    """r11 shape pin: q_stream_sessions stages ONLY the one-row
    sentinel to scratch and replays the source dir + sentinel dir as
    two unioned file-stream sources (the r10 A/B named the former
    whole-source copy a dominant term; this shape deletes it). Two
    claims, both load-bearing:

    - equivalence: the append-mode emission still matches the batch
      gaps-and-islands sessionization exactly — a sentinel landing in
      a later batch, or a source the availableNow snapshot missed,
      would silently truncate the session tail rather than error;
    - structure: the scratch root holds a one-row sentinel dir and NO
      whole-source copy (the old shape's ``src``), so scratch disk no
      longer scales with the source.
    """
    import kinesis_alerts_consumer_spark.plans.streaming_queries as sq

    register_tables(spark, SF_SMOKE)
    got = [
        (r.user_id, r.session_start, r.n)
        for r in sq.q_stream_sessions(spark, SF_SMOKE).collect()
    ]
    want = [
        (r.user_id, r.session_start, r.n)
        for r in spark.sql(sq.SQL_STREAM_SESSIONS).collect()
    ]
    assert len(got) > 0 and got == want

    roots = [d for d in sq._ST02_DIRS
             if os.path.basename(d).startswith("st02_sessions_")
             and "out" not in os.path.basename(d)]
    assert roots, sq._ST02_DIRS
    root = roots[-1]
    assert not os.path.exists(os.path.join(root, "src"))
    sent = spark.read.parquet(os.path.join(root, "sentinel"))
    rows = sent.collect()
    assert len(rows) == 1 and rows[0].user_id == -1


def test_st02_union_sources_carry_no_rate_limit():
    """ADVICE r11 structural pin: st02's two-source union is correct
    ONLY because availableNow reads both file sources in one
    micro-batch (default ReadAllAvailable). A rate limit on either
    reader (maxFilesPerTrigger/maxBytesPerTrigger) could deliver a
    sentinel-first batch, advance the watermark past max(ts)+30d, and
    drop every real event as late — empty output, no error. Pin the
    assumption at the source-text level so a future rate-limit
    addition fails HERE with the hazard named, instead of truncating
    silently."""
    import inspect

    import kinesis_alerts_consumer_spark.plans.streaming_queries as sq
    import kinesis_alerts_consumer_spark.streaming.aggregates as agg

    for mod in (sq, agg):
        lines = inspect.getsource(mod).splitlines()
        for opt in ("maxFilesPerTrigger", "maxBytesPerTrigger",
                    "maxOffsetsPerTrigger"):
            # the option NAME may appear only inside comments/strings
            # documenting the hazard, never as a reader .option(...).
            # Window of +-3 lines, not same-line (r12 review: Black
            # wraps `.option(\n    "maxFilesPerTrigger", 1)` across
            # lines and a same-line check would wave it through).
            for i, line in enumerate(lines):
                if opt not in line or line.lstrip().startswith("#"):
                    continue
                window = "\n".join(lines[max(0, i - 3):i + 4])
                if ".option(" in window:
                    raise AssertionError(
                        f"{mod.__name__} sets {opt} on a streaming "
                        "reader: st02's two-source union (and every "
                        "availableNow equivalence replay) assumes "
                        "whole-source single-batch reads — a "
                        "sentinel-first batch drops every real event "
                        "as late. Re-derive st02's sentinel plan "
                        "before rate-limiting these readers."
                    )


def test_st10_absorbing_multi_batch_invariance(spark, tmp_path):
    """The absorbing-dedup theorem st10's single-batch oracle cannot
    see: with ABSORB after every probe, the union of per-batch
    outputs equals the one-shot near-dup set restricted to pairs with
    at least one new member, however the stream is chopped — and the
    CROSS-BATCH pair class (a new doc near-dupping a doc from an
    EARLIER batch) is present, which neither st09's static probe nor
    the within-batch pass can emit. Never-capping fixture, so the
    chop-dependence of capping (documented on the gated query) is out
    of play and the equality is exact."""
    import shutil

    from kinesis_alerts_consumer_spark.operators.dedup import (
        jaccard_pairs,
        lsh_build_index,
        lsh_candidate_pairs,
    )
    from kinesis_alerts_consumer_spark.plans.streaming_queries import (
        _await,
        _batch_dirs,
        absorbing_dedup_step,
    )

    def text_of(seed: str) -> str:
        return " ".join(f"{seed}t{j}" for j in range(10))

    def chopped(seed: str) -> str:
        # drop the last 2 of 10 tokens: trigrams 8 vs 6, shared 6,
        # J = 6/8 = 0.75 >= 0.5
        return " ".join(f"{seed}t{j}" for j in range(8))

    old_rows = [(i, text_of(f"c{i}")) for i in range(30)]
    batches = [
        # b0: an exact copy of corpus doc 3, plus a fresh doc
        [(1000, text_of("c3")), (1001, text_of("n1"))],
        # b1: near-dup of the EARLIER batch's fresh doc (cross-batch)
        [(1002, chopped("n1"))],
        # b2: a within-batch pair + a near-dup of corpus doc 7
        [(1003, text_of("n3")), (1004, chopped("n3")),
         (1005, chopped("c7"))],
    ]

    old = spark.createDataFrame(old_rows, "doc_id long, text string")
    root = str(tmp_path)
    idx_path = os.path.join(root, "index")
    corpus_path = os.path.join(root, "corpus")
    lsh_build_index(old, bands=2, rows_per_band=2, shingle=3) \
        .write.partitionBy("band").parquet(idx_path)
    old.write.parquet(corpus_path)

    # one parquet FILE per intended micro-batch
    src = os.path.join(root, "src")
    os.makedirs(src)
    for i, rows in enumerate(batches):
        part = os.path.join(root, f"part{i}")
        spark.createDataFrame(rows, "doc_id long, text string") \
            .coalesce(1).write.parquet(part)
        pf = [f for f in os.listdir(part) if f.endswith(".parquet")]
        assert len(pf) == 1
        shutil.copy(os.path.join(part, pf[0]),
                    os.path.join(src, f"{i}.parquet"))

    out = os.path.join(root, "out")

    def _step(batch_df, batch_id):
        absorbing_dedup_step(
            spark, batch_df, int(batch_id), idx_path, corpus_path,
            out, bands=2, rows_per_band=2, shingle=3,
            threshold=0.5, max_bucket=64)

    schema = spark.read.parquet(src).schema
    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(_step)
        .option("checkpointLocation", os.path.join(root, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    _await(q)

    # the stream really was chopped: one output dir per micro-batch,
    # read back through the explicit paths the st09/st10 queries use
    # (a glob read logs a FileNotFoundException stack from Spark's
    # sink-metadata lookup on every healthy run)
    assert sorted(os.listdir(out)) == ["b0", "b1", "b2"]
    dirs = _batch_dirs(out)
    assert dirs == [os.path.join(out, f"b{i}") for i in range(3)]
    assert not any("*" in d for d in dirs), dirs
    got = {
        (r["a"], r["b"], r["jaccard"])
        for r in spark.read.parquet(*dirs).collect()
    }

    # one-shot reference: full near-dup over old ∪ all-new, pairs
    # with at least one new member (ids >= 1000)
    allnew = spark.createDataFrame(
        [r for b in batches for r in b], "doc_id long, text string")
    everything = old.unionByName(allnew)
    ref_cands = lsh_candidate_pairs(
        everything, bands=2, rows_per_band=2, shingle=3,
        max_bucket=None)
    ref = {
        (r["a"], r["b"], r["jaccard"])
        for r in jaccard_pairs(
            everything, ref_cands, shingle=3, threshold=0.5).collect()
        if r["b"] >= 1000
    }
    assert got == ref
    # the absorb-only pair class is present: 1001 (batch 0) paired
    # with 1002 (batch 1) — cross-batch, neither member in the corpus
    assert (1001, 1002, 0.75) in got
    # and every planted class arrived
    assert (3, 1000, 1.0) in got and (1003, 1004, 0.75) in got
    assert (7, 1005, 0.75) in got

    # absorb really grew the durable artifacts: every new doc's band
    # rows are in the index, and the corpus carries old + new
    idx_ids = {r["doc_id"] for r in spark.read.parquet(idx_path)
               .select("doc_id").distinct().collect()}
    assert {r[0] for b in batches for r in b} <= idx_ids
    assert spark.read.parquet(corpus_path).count() == 36


def test_band_table_geometry_contracts(spark):
    """Band-table geometry contracts, pinned: (a) a correct
    new_index at rows_per_band >= 11 is ACCEPTED (the first cut's
    lexicographic column sort rejected 'r10' < 'r2'); (b) a
    new_index built at a DIFFERENT bands count raises instead of
    silently losing recall (same-width columns, different minhash
    split); (c) lsh_candidate_pairs(index=) returns the same
    candidates and the same over-cap ``stats`` light as the inline
    path, each form's plan unchanged by ``stats``, and raises on an
    explicit geometry mismatch."""
    import pytest as _pytest

    from kinesis_alerts_consumer_spark.operators.dedup import (
        lsh_build_index,
        lsh_candidate_pairs,
        lsh_incremental_pairs,
    )

    old = spark.createDataFrame(
        [(i, " ".join(f"c{i}t{j}" for j in range(10)))
         for i in range(8)], "doc_id long, text string")
    new = spark.createDataFrame(
        [(1000, " ".join(f"c3t{j}" for j in range(10)))],
        "doc_id long, text string")

    # (a) rows_per_band=11: both sides at (1, 11) — accepted, runs
    idx11 = lsh_build_index(old, bands=1, rows_per_band=11, shingle=3)
    new11 = lsh_build_index(new, bands=1, rows_per_band=11, shingle=3) \
        .localCheckpoint(eager=True)
    got = lsh_incremental_pairs(
        new, old, shingle=3, threshold=0.5, max_bucket=64,
        index=idx11, new_index=new11).collect()
    assert {(r.a, r.b) for r in got} == {(3, 1000)}

    # (b) bands mismatch at identical column width raises
    idx22 = lsh_build_index(old, bands=2, rows_per_band=2, shingle=3)
    new42 = lsh_build_index(new, bands=4, rows_per_band=2, shingle=3) \
        .localCheckpoint(eager=True)
    with _pytest.raises(ValueError,
                        match=r"geometry \(4, 2\) does not match"):
        lsh_incremental_pairs(
            new, old, shingle=3, threshold=0.5, max_bucket=64,
            index=idx22, new_index=new42)

    # (c) candidate pairs through the docs' own index == inline, and
    # the over-cap light reads the same on both forms without
    # touching either form's plan (max_bucket=1 puts every shared
    # bucket, e.g. docs 3 and 1000's, over the cap)
    both = old.unionByName(new)
    both_idx = lsh_build_index(both, bands=2, rows_per_band=2,
                               shingle=3).localCheckpoint(eager=True)
    inline = {(r.a, r.b) for r in lsh_candidate_pairs(
        both, bands=2, rows_per_band=2, shingle=3).collect()}
    via_idx = {(r.a, r.b) for r in lsh_candidate_pairs(
        both, shingle=3, index=both_idx).collect()}
    assert via_idx == inline and (3, 1000) in via_idx
    s_inline: dict = {}
    s_idx: dict = {}
    lit_inline = lsh_candidate_pairs(
        both, bands=2, rows_per_band=2, shingle=3, max_bucket=1,
        stats=s_inline)
    lit_idx = lsh_candidate_pairs(
        both, shingle=3, max_bucket=1, index=both_idx, stats=s_idx)
    assert s_inline == s_idx and s_idx["overcap_buckets"] > 0, (
        s_inline, s_idx)
    assert lit_inline.sameSemantics(lsh_candidate_pairs(
        both, bands=2, rows_per_band=2, shingle=3, max_bucket=1))
    assert lit_idx.sameSemantics(lsh_candidate_pairs(
        both, shingle=3, max_bucket=1, index=both_idx))
    with _pytest.raises(ValueError, match="does not match"):
        lsh_candidate_pairs(both, bands=4, index=both_idx)
