"""Golden parity tests for the parse -> route -> project pipeline.

Each test pins the engine against the reference's own unit-test
expectations (/root/reference/alerts_consumer_test.go and
global_routes_test.go — see FIXTURES.md §2). Raw line in, exact
metric rows out.
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from kinesis_alerts_consumer_spark.pipeline import (
    dd_points,
    cw_data,
    process_lines,
    quarantine,
)

HEADER = "2017-08-15T18:39:07.000000+00:00 my-hostname production--my-app/arn%3Aaws%3Aecs%3Aus-west-1[3337]: "
EPOCH = 1502822347  # 2017-08-15T18:39:07Z
ZERO_HEADER = "1970-01-01T00:00:00+00:00 my-hostname production--my-app/arn[1]: "


def run(spark, lines, deploy_env="test-env"):
    df = spark.createDataFrame([(l,) for l in lines], "value string")
    return process_lines(df, "value", deploy_env)


def body(routes, **fields):
    fields["_kvmeta"] = {
        "team": "eng-team",
        "kv_version": "3.8.2",
        "kv_language": "js",
        "routes": routes,
    }
    return json.dumps(fields)


def alert_route(series="series-name", dims=(), stat="counter",
                value_field="value", rule="rule-1"):
    return {
        "type": "alerts",
        "series": series,
        "dimensions": list(dims),
        "stat_type": stat,
        "value_field": value_field,
        "rule": rule,
    }


def dd_rows(out):
    return [r.asDict(recursive=True) for r in dd_points(out).collect()]


# --- reference TestProcessMessage (alerts_consumer_test.go:17-52) ----


def test_process_message_dd_only(spark):
    line = HEADER + body(
        [
            {"type": "analytics", "series": "series-name", "rule": "login-events"},
            alert_route(
                series="oauth.login_start",
                dims=("district", "title", "auth_method"),
                rule="login-start",
            ),
        ],
        level="info",
        source="oauth",
        title="login_start",
        action="login",
        type="counter",
        session_id="sss",
        auth_method="auth",
        district="ddd",
        client_id="ccc",
    )
    out = run(spark, [line])
    rows = dd_rows(out)
    assert rows == [
        {
            "tag": "default",
            "metric": "kv.oauth.login_start",
            "mtype": "count",
            "tags": [
                "district:ddd",
                "title:login_start",
                "auth_method:auth",
                "Hostname:my-hostname",
                "env:test-env",
            ],
            "ts": EPOCH,
            "value": 1.0,
        }
    ]
    assert quarantine(out).count() == 0


# --- reference TestProcessMessageSupportsCloudwatch (:54-100) --------


def test_process_message_cloudwatch(spark):
    line = HEADER + body(
        [
            alert_route(
                series="ContainerExitCount",
                dims=("dimension1",),
                rule="unexpected-stop",
            )
        ],
        category="app_lifecycle",
        level="info",
        title="title",
        dimension1="dim",
        region="reg",
        type="counter",
        value=1,
    )
    out = run(spark, [line])
    assert [r.tag for r in out.collect()] == ["reg"]
    rows = dd_rows(out)
    assert rows[0]["metric"] == "kv.ContainerExitCount"
    assert rows[0]["tags"] == ["dimension1:dim", "Hostname:my-hostname", "env:test-env"]
    assert rows[0]["value"] == 1.0
    cw = [r.asDict(recursive=True) for r in cw_data(out).collect()]
    assert cw == [
        {
            "tag": "reg",
            "metric_name": "ContainerExitCount",
            "dimensions": [{"name": "dimension1", "value": "dim"}],
            "value": 1.0,
            "ts": cw[0]["ts"],  # checked via epoch below
            "storage_resolution": 1,
        }
    ]
    assert int(cw[0]["ts"].timestamp()) == EPOCH


# --- TestEncodeMessage value passthrough (:103-147) ------------------


def test_counter_uses_value_field(spark):
    line = ZERO_HEADER + body(
        [alert_route(dims=("dim_a", "dim_b"))],
        value=123, dim_a="dim_a_val", dim_b="dim_b_val",
    )
    rows = dd_rows(run(spark, [line], deploy_env="my-env"))
    assert rows[0]["metric"] == "kv.series-name"
    assert rows[0]["mtype"] == "count"
    assert rows[0]["value"] == 123.0
    assert rows[0]["ts"] == 0
    assert rows[0]["tags"] == [
        "dim_a:dim_a_val", "dim_b:dim_b_val",
        "Hostname:my-hostname", "env:my-env",
    ]


# --- TestEncodeMessageWithNonStringDimensions (:149-200) -------------


def test_dim_coercion_float_and_bool(spark):
    line = ZERO_HEADER + body(
        [alert_route(dims=("dim_a", "dim_float", "dim_bool"))],
        value=123, dim_a="dim_a_val", dim_float=3.2, dim_bool=True,
    )
    rows = dd_rows(run(spark, [line], deploy_env="my-env"))
    assert rows[0]["tags"] == [
        "dim_a:dim_a_val", "dim_float:3", "dim_bool:true",
        "Hostname:my-hostname", "env:my-env",
    ]


# --- TestEncodeMessageErrorsIfInvalidDimensionType (:202-228) --------


def test_invalid_dim_type_quarantines(spark):
    line = ZERO_HEADER + body(
        [alert_route(dims=("dim_error",))],
        value=123, dim_error={},
    )
    out = run(spark, [line])
    assert dd_points(out).count() == 0
    q = quarantine(out).collect()
    assert len(q) == 1
    assert q[0].error == "error casting dimension value. rule=rule-1 dim=dim_error val={}"


# --- TestEncodeMessageErrorsIfValueExistsAndIsInvalidType (:230-255) -


def test_wrong_typed_value_quarantines(spark):
    line = ZERO_HEADER + body([alert_route()], value="12345")
    q = quarantine(run(spark, [line])).collect()
    assert len(q) == 1
    assert q[0].error == (
        "value exists but is wrong type. rule=rule-1 value_field=value value=12345"
    )


# --- TestEncodeMessageWithGauge (:257-304) ---------------------------


def test_gauge(spark):
    line = ZERO_HEADER + body(
        [alert_route(dims=("dim_a",), stat="gauge")],
        value=9.5, dim_a="dim_a_val",
    )
    rows = dd_rows(run(spark, [line], deploy_env="my-env"))
    assert rows[0]["mtype"] == "gauge"
    assert rows[0]["value"] == 9.5


def test_gauge_default_zero_counter_default_one(spark):
    lines = [
        ZERO_HEADER + body([alert_route(stat="gauge", value_field="absent")]),
        ZERO_HEADER + body([alert_route(stat="counter", value_field="absent")]),
    ]
    rows = sorted(dd_rows(run(spark, lines)), key=lambda r: r["value"])
    assert [r["value"] for r in rows] == [0.0, 1.0]


def test_invalid_stat_type_quarantines(spark):
    line = ZERO_HEADER + body([alert_route(stat="event")])
    q = quarantine(run(spark, [line])).collect()
    assert len(q) == 1
    assert q[0].error == "invalid StatType: event"


# --- TestEncodeMessageWithMultipleRoutes (:306-380) ------------------


def test_multi_route_fanout(spark):
    line = ZERO_HEADER + body(
        [
            alert_route(series="series-name", stat="gauge", dims=("dim_a",)),
            alert_route(series="series-name-2", stat="gauge", dims=("dim_a",),
                        rule="rule-2"),
        ],
        value=9.5, dim_a="dim_a_val",
    )
    rows = dd_rows(run(spark, [line], deploy_env="my-env"))
    assert [r["metric"] for r in rows] == ["kv.series-name", "kv.series-name-2"]
    assert all(r["value"] == 9.5 for r in rows)


# --- TestEncodeMessageWithNoAlertsRoutes (:382-404) ------------------


def test_no_alert_routes_ignored(spark):
    line = ZERO_HEADER + json.dumps(
        {
            "rawlog": "...",
            "_kvmeta": {
                "routes": [
                    {"type": "metric", "channel": "#test", "message": "Hello World"}
                ]
            },
        }
    )
    out = run(spark, [line])
    assert out.filter(F.col("ignored")).count() == 1
    assert dd_points(out).count() == 0
    assert quarantine(out).count() == 0


# --- missing timestamp -> record error (alerts_consumer.go:111-114) --


def test_unparseable_line_quarantines(spark):
    out = run(spark, ["not-a-syslog-line at all"])
    assert quarantine(out).count() == 1


# --- team fallback: string-typed + non-empty only (go:86-89) ---------


def test_team_fallback_empty_and_nonstring(spark):
    """`team, _ := fields["team"].(string)`: empty-string and
    non-string body teams fall back to _kvmeta.team; a real string
    team wins (alerts_consumer.go:86-89)."""
    from kinesis_alerts_consumer_spark.functions.kayvee import parse_lines

    lines = [
        HEADER + body([alert_route()], team="body-team"),   # string wins
        HEADER + body([alert_route()], team=""),            # empty -> kvmeta
        HEADER + body([alert_route()], team=42),            # int -> kvmeta
        HEADER + body([alert_route()], team=True),          # bool -> kvmeta
        HEADER + body([alert_route()]),                     # missing -> kvmeta
    ]
    df = spark.createDataFrame([(l,) for l in lines], "value string")
    teams = [r.team for r in parse_lines(df, "value").select("team").collect()]
    assert teams == ["body-team", "eng-team", "eng-team", "eng-team",
                     "eng-team"]


# --- CW 20-datum chunking (allowlist.go:6-7) -------------------------


def test_cw_submit_chunks_at_20(spark, tmp_path):
    """45 region-tagged CW data in one batch -> 3 submit calls, each
    <=20 rows and single-tag (one PutMetricData per call)."""
    from kinesis_alerts_consumer_spark.streaming.sinks import MetricsSink

    lines = [
        HEADER + body(
            [alert_route(series="ContainerExitCount", dims=("dimension1",),
                         rule="unexpected-stop")],
            category="app_lifecycle", level="info", title=f"t{i}",
            dimension1=f"dim-{i}", region="us-west-2", type="counter",
            value=1,
        )
        for i in range(45)
    ]
    out = run(spark, lines)
    calls = []
    sink = MetricsSink(
        str(tmp_path / "out"),
        submit_cw=lambda df: calls.append(
            [(r.tag, r.metric_name) for r in df.collect()]
        ),
    )
    sink.process_batch(out, batch_id=0)
    assert len(calls) == 3
    assert sorted(len(c) for c in calls) == [5, 20, 20]
    assert all(len({t for t, _ in c}) == 1 for c in calls)
    assert sum(len(c) for c in calls) == 45


# --- MetricsSink per-batch work ---------------------------------------


def cw_line(region, i=0, header=HEADER):
    return header + body(
        [alert_route(series="ContainerExitCount", dims=("dimension1",),
                     rule="unexpected-stop")],
        category="app_lifecycle", level="info", title=f"t{i}",
        dimension1=f"dim-{i}", region=region, type="counter", value=1,
    )


def jobs_started(spark, fn):
    """Number of Spark jobs ``fn`` starts, read from the status tracker
    under a job group of its own."""
    import uuid

    sc = spark.sparkContext
    prev = sc.getLocalProperty("spark.jobGroup.id")
    group = f"jobs-started-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", prev)
    # job-start events reach the status store through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_metrics_sink_default_jobs_per_batch(spark, tmp_path):
    """The default sink starts four jobs per batch: the staging write
    (the delay gauge rides on it as an Observation), quarantine, DD,
    and ONE CloudWatch write for all region tags — the same count for
    three regions as for one."""
    from kinesis_alerts_consumer_spark.streaming.sinks import MetricsSink

    counts = {}
    for name, regions in (("three", ["us-west-1", "us-east-1", "eu-west-1"]),
                          ("one", ["us-west-1"] * 3)):
        batch = run(spark, [cw_line(regions[i % 3], i) for i in range(9)]
                    + ["garbage line"])
        sink = MetricsSink(str(tmp_path / name))
        counts[name] = jobs_started(spark, lambda: sink.process_batch(batch, 0))
        cw = spark.read.parquet(str(tmp_path / name / "cw"))
        assert cw.count() == 9
        assert {r.tag for r in cw.select("tag").distinct().collect()} == set(
            regions)
    assert counts == {"three": 4, "one": 4}


def test_metrics_sink_gauge_matches_max_delay_seconds(
    spark, tmp_path, monkeypatch
):
    """The gauge written through the staging write's Observation equals
    ``max_delay_seconds(dd_points(...))`` under the same fixed ``now``:
    quarantined and ignored records (stamped 1970 here) do not count."""
    from kinesis_alerts_consumer_spark.operators import volume
    from kinesis_alerts_consumer_spark.streaming.sinks import MetricsSink

    now = F.lit(EPOCH + 100)
    agg = volume.max_delay_agg
    monkeypatch.setattr(volume, "max_delay_agg",
                        lambda ts, _now=None: agg(ts, now))
    earlier = HEADER.replace("18:39:07", "18:29:07")  # EPOCH - 600
    lines = [
        HEADER + body([alert_route()], value=1),
        earlier + body([alert_route(stat="gauge")], value=2.5),
        cw_line("us-west-1", header=earlier),
        ZERO_HEADER + body([alert_route()], value="12345"),  # quarantined
        ZERO_HEADER + json.dumps({"_kvmeta": {"routes": []}}),  # ignored
    ]
    out = run(spark, lines)
    want = volume.max_delay_seconds(dd_points(out), now=now).first()[0]
    assert want == 700

    MetricsSink(str(tmp_path / "out")).process_batch(out, batch_id=5)
    with open(tmp_path / "out" / "gauges" / "batch-000005.json") as fh:
        gauge = json.loads(fh.read())
    assert gauge == {"batch_id": 5, "gauge": "max_log_delay",
                     "value": float(want)}


def test_cw_failure_is_logged_and_never_fails_the_batch(
    spark, tmp_path, caplog
):
    """CloudWatch stays best-effort (alerts_consumer.go:271-281): a
    raising transport leaves DD and quarantine written and logs a
    warning naming the batch."""
    import logging

    from kinesis_alerts_consumer_spark.streaming.sinks import MetricsSink

    def broken(df):
        raise RuntimeError("CloudWatch unreachable (test)")

    out = run(spark, [cw_line("us-west-1", i) for i in range(3)]
              + ["garbage line"])
    sink = MetricsSink(str(tmp_path / "out"), submit_cw=broken)
    with caplog.at_level(logging.WARNING,
                         logger="kinesis_alerts_consumer_spark.streaming.sinks"):
        sink.process_batch(out, batch_id=3)

    assert spark.read.parquet(str(tmp_path / "out" / "dd")).count() == 3
    assert spark.read.parquet(str(tmp_path / "out" / "quarantine")).count() == 1
    warned = [r for r in caplog.records if "batch 3" in r.getMessage()]
    assert len(warned) == 1 and warned[0].levelno == logging.WARNING
    assert "CloudWatch unreachable" in str(warned[0].exc_info[1])
