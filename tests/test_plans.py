"""Physical-plan quality assertions — the 100 TB posture checks.

These pin the plan properties that make the engine scale, so a
regression (lost pushdown, broadcast turned shuffle, extra exchange)
fails CI rather than shipping:

- filters and column pruning reach the parquet scan;
- small-dimension joins broadcast (no shuffle of the big side);
- the as-of join costs exactly its minimum: one shuffle for the keyed
  window plus the final presentation sort;
- narrow pipelines whole-stage-codegen.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from kinesis_alerts_consumer_spark.plans.declared import DECLARED_QUERIES
from kinesis_alerts_consumer_spark.plans.extended import EXT_QUERIES
from kinesis_alerts_consumer_spark.sources import register_tables

from .conftest import SF_SMOKE


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_and_pruning_pushed_to_scan(spark):
    register_tables(spark, SF_SMOKE)
    plan = _plan(spark.sql(DECLARED_QUERIES["dq01_filter_project"]))
    assert "PushedFilters: [" in plan and "IsNotNull(l_shipdate)" in plan
    # projection pruning: the scan must not read all 11 lineitem cols
    scan_line = next(l for l in plan.splitlines() if "FileScan parquet" in l)
    assert "l_extendedprice" not in scan_line and "l_tax" not in scan_line


def test_dim_joins_broadcast(spark):
    register_tables(spark, SF_SMOKE)
    plan = _plan(spark.sql(DECLARED_QUERIES["dq02_join_agg"]))
    assert plan.count("BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in plan


def test_asof_join_single_data_shuffle(spark):
    register_tables(spark, SF_SMOKE)
    df = EXT_QUERIES["ext01_asof_join"][0](spark, SF_SMOKE)
    plan = _plan(df)
    # one hashpartitioning exchange (the keyed window) + the final
    # rangepartitioning for ORDER BY — nothing else
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("Exchange rangepartitioning") == 1


def test_narrow_pipeline_codegens(spark):
    register_tables(spark, SF_SMOKE)
    plan = _plan(spark.sql(DECLARED_QUERIES["dq01_filter_project"]))
    # '*(n)' prefixes mark operators fused into a WholeStageCodegen span
    assert "*(1) Project" in plan and "*(1) Filter" in plan


def test_semi_and_anti_joins_stay_joins(spark):
    """EXISTS / NOT EXISTS must plan as semi/anti joins, not
    subquery-per-row."""
    register_tables(spark, SF_SMOKE)
    semi = _plan(spark.sql(DECLARED_QUERIES["dq08_semi_join"]))
    anti = _plan(spark.sql(DECLARED_QUERIES["dq11_anti_join"]))
    assert "LeftSemi" in semi
    assert "LeftAnti" in anti


def test_events_filter_pushdown_survives_ts_normalization(spark):
    """The ts DIV-1000 normalization wraps the events scan in a
    projection; filters on OTHER columns must still push down."""
    t = register_tables(spark, SF_SMOKE)
    plan = _plan(t["events"].filter(F.col("event_type") == "click"))
    assert "PushedFilters: [IsNotNull(event_type), EqualTo(event_type,click)]" in plan


def test_pack_sequences_window_partitions_by_shard(spark):
    """The packing window must hash-partition on (lang, shard), not
    lang alone — lang has ~5 values, so an unsharded window sorts the
    whole corpus on a few partitions at scale."""
    from kinesis_alerts_consumer_spark.operators.sampling import (
        pack_sequences,
    )

    docs = register_tables(spark, SF_SMOKE)["documents"]
    ntok = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    plan = _plan(pack_sequences(docs, ntok, budget=2048, shards=8))
    win_exchanges = [
        l for l in plan.splitlines()
        if "hashpartitioning" in l and "lang" in l
    ]
    assert win_exchanges, f"no window exchange found:\n{plan}"
    assert all("shard" in l for l in win_exchanges), win_exchanges


def test_source_cap_plan_preprunes_before_shuffle(spark):
    """source_cap's rank<=cap filter must plan as WindowGroupLimit
    Partial (per input partition, BEFORE the exchange) + Final: a hot
    source ships at most cap rows per upstream partition instead of
    its full row set."""
    from kinesis_alerts_consumer_spark.operators.sampling import source_cap

    t = register_tables(spark, SF_SMOKE)
    plan = source_cap(t["documents"], cap=50)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "WindowGroupLimit" in plan
    assert "Partial" in plan and "Final" in plan


def test_curation_pipeline_never_shuffles_text(spark):
    """llm31's verdicts all compute scan-side; the text column must
    not appear in ANY Exchange row — at 100 TB that is the difference
    between shuffling ~40 bytes/doc and shuffling the corpus."""
    from kinesis_alerts_consumer_spark.plans.llm_queries import LLM_QUERIES

    df = LLM_QUERIES["llm31_curation_pipeline"][0](spark, SF_SMOKE)
    plan = _plan(df)
    exchange_lines = [l for l in plan.splitlines() if "Exchange" in l]
    assert exchange_lines, "expected at least one exchange"
    assert not any("text#" in l for l in exchange_lines), exchange_lines


def test_stream_stream_join_state_is_watermark_bounded(spark):
    """st07's interval join must carry watermarks on BOTH sides and
    key the join state on user id — the properties that bound state at
    O(watermark-window x rate) on an unbounded stream."""
    from kinesis_alerts_consumer_spark.streaming.aggregates import (
        purchase_click_join,
        stream_events,
    )

    register_tables(spark, SF_SMOKE)
    df = purchase_click_join(stream_events(spark, SF_SMOKE))
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert analyzed.count("EventTimeWatermark") == 2, analyzed
    assert "StreamingRelation" in analyzed


def test_salted_join_spreads_hot_key(spark):
    """vol04's join must key on (app, _salt) — the hot key's rows land
    on salt_n reducers — and the replicated 5-row dim must broadcast."""
    from kinesis_alerts_consumer_spark.plans.kayvee_queries import (
        KAYVEE_QUERIES,
    )

    df = KAYVEE_QUERIES["vol04_hot_key_join"][0](spark, SF_SMOKE)
    plan = _plan(df)
    join_lines = [
        l for l in plan.splitlines()
        if "Join" in l and "app" in l
    ]
    assert join_lines and all("_salt" in l for l in join_lines), join_lines
    assert "BroadcastHashJoin" in plan


def test_md5_distinct_never_shuffles_text(spark):
    """llm35 is dq10's 100 TB rewrite: COUNT(DISTINCT md5(text))
    must shuffle 32-byte digests, never document bodies — no text#
    in ANY Exchange (dq10 itself keeps the verbatim-SQL plan and is
    flagged in PLAN_AUDIT.md; this is its gated mitigation)."""
    from kinesis_alerts_consumer_spark.plans.llm_queries import LLM_QUERIES

    df = LLM_QUERIES["llm35_distinct_md5_counts"][0](spark, SF_SMOKE)
    plan = _plan(df)
    exchange_lines = [l for l in plan.splitlines() if "Exchange" in l]
    assert exchange_lines, "expected at least one exchange"
    # 'text#N' may appear INSIDE the md5(cast(text#N as binary))
    # expression name (the 32-byte digest computed map-side, which is
    # exactly the point); a bare text#N outside it would mean bodies
    # in the shuffle.
    stripped = [
        l.replace("md5(cast(text#", "md5(cast(col#") for l in exchange_lines
    ]
    assert not any("text#" in l for l in stripped), exchange_lines


def test_bucketed_join_plans_no_join_key_exchange(spark):
    """ext07: orders⋈customer over bucketed tables must plan a
    SortMergeJoin with NO Exchange on the join key — the pay-the-
    shuffle-once-at-ingest pattern. The only exchanges allowed are
    the final small per-segment aggregation's."""
    from kinesis_alerts_consumer_spark.plans.extended import EXT_QUERIES

    df = EXT_QUERIES["ext07_bucketed_join"][0](spark, SF_SMOKE)
    plan = _plan(df)
    assert "SortMergeJoin" in plan, plan
    exchange_lines = [l for l in plan.splitlines() if "Exchange" in l]
    assert not any("custkey" in l for l in exchange_lines), exchange_lines


def test_lsh_candidates_single_signature_pass(spark):
    """lsh_candidate_pairs must plan pair generation as per-bucket
    member-list aggregation (collect_list -> explode²), NOT a bucket
    self-join: the join form computed the whole signature pipeline
    once per join side (no exchange reuse across broadcast subtrees —
    r6 sf10 finding). One partial_min block = one signature pass."""
    from kinesis_alerts_consumer_spark.operators.dedup import (
        lsh_candidate_pairs,
    )
    from kinesis_alerts_consumer_spark.sources import register_tables

    docs = register_tables(spark, SF_SMOKE)["documents"]
    plan = _plan(lsh_candidate_pairs(docs, shingle=3))
    # exactly ONE partial-min signature aggregation (4 hash columns)
    assert plan.count("partial_min") == 4, plan.count("partial_min")
    assert "collect_list" in plan
    assert "Join" not in plan, [
        l for l in plan.splitlines() if "Join" in l
    ]


def _last_batch_plan(df, mode="complete") -> str:
    """Executed micro-batch plan of a bounded availableNow replay —
    streaming plans only materialize scan/exchange detail per batch,
    so plan posture is asserted on the final executed batch."""
    import uuid

    name = "plan_probe_" + uuid.uuid4().hex[:8]
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    try:
        assert q.awaitTermination(300), "plan probe replay timed out"
        return q._jsq.explainInternal(False)
    finally:
        q.stop()


def test_streaming_session_scan_prunes_columns(spark):
    """st02's session aggregate needs only (ts, user_id); the
    streaming parquet scan must NOT read event_type/value/props —
    at 100 TB the unread `props` JSON is most of the bytes."""
    from kinesis_alerts_consumer_spark.streaming.aggregates import (
        stream_events,
        user_sessions,
    )

    plan = _last_batch_plan(user_sessions(stream_events(spark, SF_SMOKE)))
    scans = [l for l in plan.splitlines() if "FileScan parquet" in l]
    assert scans, plan
    for line in scans:
        assert "props" not in line and "event_type" not in line, line
        assert "ReadSchema" in line


def test_streaming_dedup_prunes_through_state_operator(spark):
    """A post-dedup projection must push THROUGH
    dropDuplicatesWithinWatermark to the source: the st08 shape relies
    on Catalyst pruning (event_id, ts, event_type) so unread columns
    never ride the REQUIRED_BY_STATEFUL_OPERATOR exchange. If a Spark
    upgrade stops pruning through Deduplicate, this fails and the
    query needs an explicit pre-dedup select."""
    from pyspark.sql import functions as F

    from kinesis_alerts_consumer_spark.streaming.aggregates import (
        stream_events,
    )

    ded = (
        stream_events(spark, SF_SMOKE)
        .withWatermark("ts", "2 hours")
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id", "event_type")
    )
    plan = _last_batch_plan(ded, mode="append")
    # The final availableNow batch of a dedup stream is an empty
    # commit batch (LocalTableScan <empty>), so assert on the columns
    # the plan CARRIES: the stateful exchange and its source must show
    # only (event_id, ts, event_type) — never props/user_id/value.
    assert "REQUIRED_BY_STATEFUL_OPERATOR" in plan, plan
    assert "props" not in plan, plan
    assert "user_id" not in plan, plan
    assert "value#" not in plan, plan


def test_pair_verify_spread_survives_as_user_repartition(spark):
    """The near-dup candidate pipelines (hyperplane + MinHash
    self-dedup) must carry their pair frame through a USER repartition
    on (a, b) sized to defaultParallelism, placed so it BECOMES the
    distinct's exchange (r14 optimization): the pairs are bytes-tiny
    but ~5 us/pair of CPU downstream, so AQE's byte-based coalescing
    otherwise runs distinct + verify on ONE task. A REPARTITION_BY_NUM
    exchange is exempt from AQE coalescing; its presence (and the
    absence of a second (a, b) exchange for the distinct) is the whole
    optimization."""
    from kinesis_alerts_consumer_spark.operators.dedup import (
        hyperplane_lsh_pairs,
        lsh_candidate_pairs,
    )
    from kinesis_alerts_consumer_spark.sources import register_tables

    t = register_tables(spark, SF_SMOKE)
    # r15: the spread count follows max(cores, shuffle.partitions) —
    # a user REPARTITION_BY_NUM is exempt from AQE re-splitting too,
    # so at scale it must track the cluster-sized shuffle axis, not
    # bare plan-time defaultParallelism (ADVICE r14)
    p = max(
        spark.sparkContext.defaultParallelism,
        int(spark.conf.get("spark.sql.shuffle.partitions")),
    )
    for df in (
        hyperplane_lsh_pairs(
            t["embeddings"].select("vec_id", "embedding"),
            bands=2, bits_per_band=2, dim=8),
        lsh_candidate_pairs(t["documents"], shingle=3),
    ):
        plan = _plan(df)
        assert "REPARTITION_BY_NUM" in plan, plan[:2000]
        # exactly one (a, b)-keyed exchange: the user repartition IS
        # the distinct's exchange (same keys satisfy its distribution)
        ab_exchanges = [
            l for l in plan.splitlines()
            if "Exchange hashpartitioning(a#" in l and ", b#" in l
        ]
        assert len(ab_exchanges) == 1, ab_exchanges
        assert f", {p})," in ab_exchanges[0] or f", {p})" in \
            ab_exchanges[0], (p, ab_exchanges[0])


def test_pair_verify_spread_honors_kill_switch(spark):
    """``spark.graft.spreadForCompute=off`` must disable the forced
    pair spread exactly like it disables
    :func:`~..operators.util.spread_for_compute` — one deployment
    kill-switch for every forced exchange (ADVICE r14)."""
    from kinesis_alerts_consumer_spark.operators.dedup import (
        lsh_candidate_pairs,
    )
    from kinesis_alerts_consumer_spark.sources import register_tables

    t = register_tables(spark, SF_SMOKE)
    spark.conf.set("spark.graft.spreadForCompute", "off")
    try:
        plan = _plan(lsh_candidate_pairs(t["documents"], shingle=3))
        assert "REPARTITION_BY_NUM" not in plan, plan[:2000]
    finally:
        spark.conf.unset("spark.graft.spreadForCompute")


def test_register_tables_refreshes_views_on_sf_switch(spark):
    """Temp views are global per session: switching sf_dir and back
    must re-point the views, not silently serve the stale sf's data
    from the (session, sf_dir) cache."""
    from .conftest import SF_CORRECTNESS

    n_smoke = register_tables(spark, SF_SMOKE)["orders"].count()
    assert spark.sql("SELECT COUNT(*) c FROM orders").first().c == n_smoke
    n_big = register_tables(spark, SF_CORRECTNESS)["orders"].count()
    assert n_big != n_smoke
    assert spark.sql("SELECT COUNT(*) c FROM orders").first().c == n_big
    register_tables(spark, SF_SMOKE)
    assert spark.sql("SELECT COUNT(*) c FROM orders").first().c == n_smoke
