"""Per-route projection: dimension coercion, value resolution, metric
construction, partition-tag assignment, and per-record quarantine —
reference ``encodeMessage`` (alerts_consumer.go:104-231) re-expressed
as one whole-stage-codegen projection.

Key reproduced semantics (citations into /root/reference):

- dim lookup & coercion (alerts_consumer.go:130-146): string as-is;
  JSON number via ``%.0f`` (3.2 -> "3"); bool -> "true"/"false";
  MISSING field -> dim silently skipped; any other JSON type -> the
  whole record errors (quarantine row here, exception there).
  Documented divergences: Go ``%.0f`` rounds half-even, Java
  ``format_string`` HALF_UP — differs only at exact .5 values; and
  ``parse_json`` normalizes ``-0.0`` to ``0.0`` (decimal storage), so
  the engine renders "0" where Go renders "-0" (SURVEY.md §4; both
  pinned in tests/test_properties.py).
- value resolution (alerts_consumer.go:157-192): JSON float ok;
  present-but-not-float errors (even numeric strings, test :230-255);
  missing -> counter 1 / gauge 0; unknown stat_type errors.
- DD series (alerts_consumer.go:194-204): ``kv.<series>``, type
  count|gauge, one point (epoch seconds, value); tags in route-dim
  order (kvmeta dims then Hostname, env — test :36-48).
- CW datum (alerts_consumer.go:206-223): allowlisted series only,
  dims minus the default dims, StorageResolution 1; requires a string
  ``region`` (else ``pod-region``) field, which also becomes the
  record's partition tag; otherwise tag stays "default" (:122-124).
- error precedence: no routes -> ignored (checked before anything,
  :101-103); unparseable timestamp (:111-114); then per route: first
  bad dim, wrong-typed value, invalid stat_type — first route wins.

Scale notes: the whole evaluation runs BEFORE ``explode`` via
higher-order array functions, so per-record error semantics need no
groupBy-after-explode shuffle; quarantine/ignore splits are plain
filters on the same narrow projection. Dynamic-typed field access is
Spark-4 VARIANT (``schema_of_variant`` type dispatch) — JVM-side, no
Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .allowlist import CLOUDWATCH_ALLOWLIST
from .fields import res_sql, with_typed_fields
from .routing import DEFAULT_DIMENSIONS
from .util import memo_expr


def _eval_routes_sql() -> str:
    """SQL text of the per-route evaluation (one F.expr parse — the
    Column-tree form cost ~0.3 s of py4j round-trips on first build).

    Per route: dim lookup + coercion (string as-is; JSON number
    ``%.0f``; bool true/false; missing skipped; other -> record error,
    alerts_consumer.go:130-146), value resolution with counter 1 /
    gauge 0 defaults (:157-192), DD series fields (:194-204), CW dims
    + allowlist flag (:206-223), and the first-error slot.

    'other'-kind values carry no pre-rendered text (see
    fields._typed_fields_sql); the quarantine error messages fetch the
    JSON text lazily from the raw ``fields`` variant map — those
    branches only evaluate for quarantined records. Go fmt ``%s``
    rendering: string as-is, bool true/false, nil "<nil>"; variant
    OBJECT/ARRAY render as their JSON text (documented formatting
    divergence from Go's map/slice rendering — SURVEY.md §4).
    """
    missing = res_sql()

    def resolve(name: str) -> str:
        return (
            f"coalesce(try_element_at(fields_typed, coalesce({name}, '')), "
            f"{missing})"
        )

    def coerce(x: str) -> str:
        return (
            f"(CASE WHEN {x}.r.kind = 'string' THEN {x}.r.s "
            f"WHEN {x}.r.kind = 'double' THEN format_string('%.0f', {x}.r.d) "
            f"WHEN {x}.r.kind = 'bool' THEN "
            f"(CASE WHEN {x}.r.b THEN 'true' ELSE 'false' END) END)"
        )

    # Interpreted lambdas get no common-subexpression elimination, so
    # the eval runs as STAGED transforms: each stage materializes what
    # the next references more than once (dims/vres, then the
    # present/bad partitions) — without the staging the dim-resolve
    # map lookups re-ran up to ~6x per route per record.
    dims = (
        "transform(coalesce(r.dimensions, cast(array() as array<string>)), "
        f"d -> named_struct('name', d, 'r', {resolve('d')}))"
    )
    stage1 = (
        "transform(routes, r -> named_struct("
        f"'r', r, 'dims', {dims}, 'vres', {resolve('r.value_field')}))"
    )
    stage2 = (
        f"transform({stage1}, p -> named_struct("
        "'r', p.r, "
        "'present', filter(p.dims, x -> x.r.kind != 'missing'), "
        "'bad', filter(p.dims, x -> x.r.kind = 'other'), "
        "'vres', p.vres))"
    )

    tags = f"transform(q.present, x -> concat(x.name, ':', {coerce('x')}))"
    defaults = ", ".join(f"'{d}'" for d in DEFAULT_DIMENSIONS)
    cw_dims = (
        f"transform(filter(q.present, x -> NOT (x.name IN ({defaults})) "
        "AND x.r.kind != 'other'), "
        f"x -> named_struct('name', x.name, 'value', {coerce('x')}))"
    )

    bad1 = "try_element_at(q.bad, 1)"
    error = (
        "CASE WHEN size(q.bad) > 0 THEN "
        "concat('error casting dimension value. rule=', "
        f"coalesce(q.r.rule, ''), ' dim=', {bad1}.name, ' val=', "
        f"coalesce({bad1}.r.s, "
        f"cast(try_element_at(`fields`, {bad1}.name) as string), '<nil>')) "
        "WHEN q.vres.kind IN ('string', 'bool', 'other') THEN "
        "concat('value exists but is wrong type. rule=', "
        "coalesce(q.r.rule, ''), ' value_field=', "
        "coalesce(q.r.value_field, ''), ' value=', "
        "coalesce(q.vres.s, "
        "CASE WHEN q.vres.b IS NOT NULL THEN "
        "(CASE WHEN q.vres.b THEN 'true' ELSE 'false' END) END, "
        "cast(try_element_at(`fields`, q.r.value_field) as string), "
        "'<nil>')) "
        "WHEN NOT (q.r.stat_type IN ('counter', 'gauge')) THEN "
        "concat('invalid StatType: ', coalesce(q.r.stat_type, '')) END"
    )

    value = (
        "CASE WHEN q.r.stat_type = 'counter' THEN coalesce(q.vres.d, 1.0D) "
        "ELSE coalesce(q.vres.d, 0.0D) END"
    )
    mtype = "CASE WHEN q.r.stat_type = 'counter' THEN 'count' ELSE 'gauge' END"
    allowlist = ", ".join(f"'{s}'" for s in sorted(CLOUDWATCH_ALLOWLIST))

    return (
        f"explode(array(transform({stage2}, q -> named_struct("
        "'metric', concat('kv.', q.r.series), "
        f"'mtype', {mtype}, "
        f"'tags', {tags}, "
        f"'value', {value}, "
        "'series', q.r.series, "
        f"'cw_dims', {cw_dims}, "
        f"'allowlisted', q.r.series IN ({allowlist}), "
        f"'error', {error}))))"
    )


def project_routes(df: DataFrame) -> DataFrame:
    """Record-with-routes -> evaluated metrics + tag + error columns.

    Adds: ``evaled`` (array of per-route results), ``error`` (record
    level, null = clean), ``tag`` (partition key), ``dd_metrics``,
    ``cw_metrics``. Input must carry parse_lines + with_routes columns.

    ``evaled`` is wrapped in an ``explode(array(...))`` generator
    barrier so the (large) per-route evaluation expression runs once
    per record — without it CollapseProject inlines a full copy into
    error/tag/dd_metrics/cw_metrics each (see ``with_typed_fields``).
    """
    if "fields_typed" not in df.columns:
        df = with_typed_fields(df)
    df = df.withColumn(
        "evaled",
        memo_expr("project.evaled", lambda: F.expr(_eval_routes_sql())),
    )
    df = df.withColumn("ignored", F.col("ignored") & F.col("line_ok"))
    df = df.withColumns(memo_expr("project.disposition", _disposition_exprs))
    return df.withColumns(memo_expr("project.metrics", _metric_exprs))


def _disposition_exprs() -> dict[str, Column]:
    first_err = F.try_element_at(
        F.filter(F.col("evaled"), lambda e: e.getField("error").isNotNull()), F.lit(1)
    )

    # region/pod-region must be JSON strings (Go .(string) assertion,
    # alerts_consumer.go:214-219).
    region = F.when(
        F.schema_of_variant(F.col("fields").getItem("region")) == "STRING",
        F.col("fields").getItem("region").cast("string"),
    )
    pod_region = F.when(
        F.schema_of_variant(F.col("fields").getItem("pod-region")) == "STRING",
        F.col("fields").getItem("pod-region").cast("string"),
    )
    cw_bound = F.exists(F.col("evaled"), lambda e: e.getField("allowlisted"))

    return {
        # Error precedence mirrors the reference: parse failure
        # (ProcessMessage -> ParseAndEnhance error, alerts_consumer.go:57-60)
        # precedes the ignore check (:101-103), which precedes the
        # timestamp check (:111-114), then the per-route errors.
        "error": (
            F.when(~F.col("line_ok"), F.lit("failed to parse log line"))
            .when(F.col("ignored"), F.lit(None).cast("string"))
            .when(
                F.col("timestamp").isNull(),
                F.lit("unable parse Time from message's 'timestamp' field"),
            )
            .otherwise(first_err.getField("error"))
        ),
        "_region": region,
        "_pod_region": pod_region,
        "tag": (
            F.when(cw_bound & region.isNotNull(), region)
            .when(cw_bound & pod_region.isNotNull(), pod_region)
            .otherwise(F.lit("default"))
        ),
    }


def _metric_exprs() -> dict[str, Column]:
    ok = F.col("error").isNull() & ~F.col("ignored")
    epoch = F.unix_timestamp(F.col("timestamp"))
    return {
        "dd_metrics": F.when(
            ok,
            F.transform(
                F.col("evaled"),
                lambda e: F.struct(
                    e.getField("metric").alias("metric"),
                    e.getField("mtype").alias("mtype"),
                    e.getField("tags").alias("tags"),
                    epoch.alias("ts"),
                    e.getField("value").alias("value"),
                ),
            ),
        ),
        "cw_metrics": F.when(
            ok & (F.col("_region").isNotNull() | F.col("_pod_region").isNotNull()),
            F.transform(
                F.filter(F.col("evaled"), lambda e: e.getField("allowlisted")),
                lambda e: F.struct(
                    e.getField("series").alias("metric_name"),
                    e.getField("cw_dims").alias("dimensions"),
                    e.getField("value").alias("value"),
                    F.col("timestamp").alias("ts"),
                    F.lit(1).alias("storage_resolution"),
                ),
            ),
        ).otherwise(F.expr("array()").cast(
            "array<struct<metric_name: string, dimensions: array<struct<name: string, value: string>>, "
            "value: double, ts: timestamp, storage_resolution: int>>"
        )),
    }


def clean(df: DataFrame) -> DataFrame:
    """Routed records that projected without error."""
    return df.filter(~F.col("ignored") & F.col("error").isNull())


def quarantine(df: DataFrame) -> DataFrame:
    """The engine's DLQ: records the reference fails with a Go error
    (FIXTURES.md §2.4 quarantine rows)."""
    return df.filter(F.col("error").isNotNull()).select(
        "_raw", "timestamp", "error", "tag"
    )


def dd_points(df: DataFrame) -> DataFrame:
    """Explode clean records into one row per Datadog series point."""
    return clean(df).select(
        "tag", F.explode("dd_metrics").alias("m")
    ).select(
        "tag",
        F.col("m.metric").alias("metric"),
        F.col("m.mtype").alias("mtype"),
        F.col("m.tags").alias("tags"),
        F.col("m.ts").alias("ts"),
        F.col("m.value").alias("value"),
    )


def cw_data(df: DataFrame) -> DataFrame:
    """Explode clean records into one row per CloudWatch datum."""
    return clean(df).select("tag", F.explode("cw_metrics").alias("m")).select(
        "tag",
        F.col("m.metric_name").alias("metric_name"),
        F.col("m.dimensions").alias("dimensions"),
        F.col("m.value").alias("value"),
        F.col("m.ts").alias("ts"),
        F.col("m.storage_resolution").alias("storage_resolution"),
    )
