"""Typed field resolution for the open (dynamic) record.

The reference reads fields from one merged ``map[string]interface{}``
(JSON body + syslog-derived + rule-derived fields) with a type switch
per access (alerts_consumer.go:130-146). The engine materializes that
merged view ONCE per record as

    fields_typed: map<string, struct<s,d,b,kind>>

(kind ∈ string|double|bool|other) by (a) running the variant type
dispatch over every body field in a single ``transform_values`` pass
and (b) ``map_concat``-ing the engine-materialized columns (syslog
header fields, mongo-rule derivations) over it — LAST_WIN dedup makes
the engine columns take precedence, mirroring the reference's merge
order. Every downstream dimension/value lookup is then one
``element_at`` instead of a per-lookup type-dispatch chain: the
higher-order route-eval expressions are interpreted (lambda
expressions are CodegenFallback), so shrinking per-lookup expression
size is the main throughput lever on the hot path.

``explode(array(...))`` wraps the map construction as a generator
barrier — CollapseProject would otherwise inline a full copy of the
dispatch into every referencing output column (observed: 1 GiB driver
heap exhausted at 10k rows before the barrier existed).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Engine-known record fields -> backing column. The parse/enrich stage
# and the mongo rule materialize these as real columns; everything else
# resolves against the body variant map. "Hostname" is the reference's
# capitalized backfill of "hostname" (alerts_consumer.go:105-109).
STRING_FIELDS = {
    "Hostname": "hostname",
    "hostname": "hostname",
    "env": "env",
    "programname": "programname",
    "container_env": "container_env",
    "container_app": "container_app",
    "team": "team",
    "rawlog": "rawlog",
    "operation": "operation",
    "namespace": "namespace",
}
DOUBLE_FIELDS = {"millis": "millis"}
BOOL_FIELDS = {"is_collscan": "is_collscan"}


def res_sql(s=None, d=None, b=None, kind="'missing'") -> str:
    """SQL text of one typed struct<s,d,b,kind>."""
    return (
        f"named_struct('s', {s or 'cast(null as string)'}, "
        f"'d', {d or 'cast(null as double)'}, "
        f"'b', {b or 'cast(null as boolean)'}, 'kind', {kind})"
    )


def _typed_fields_sql() -> str:
    """SQL text of the merged typed map.

    Built as ONE SQL string parsed JVM-side instead of a py4j Column
    tree: the tree form cost ~0.9 s of driver round-trips on first
    build (the single largest plan-build item on the kayvee path).

    The variant type switch (the reference's alerts_consumer.go:
    130-146) runs as a TWO-pass transform_values: pass 1 stores
    ``schema_of_variant(v)`` next to the value, pass 2 dispatches on
    the stored text — in interpreted mode (lambdas are
    CodegenFallback) the single-pass CASE re-evaluated
    schema_of_variant per branch, up to 3x per field per record.

    OBJECT / ARRAY / VOID(JSON null) -> kind 'other' with s NULL:
    casting a whole nested object to JSON text per record measurably
    slowed the hot path (~20%); the quarantine error message fetches
    the text lazily from the raw ``fields`` map instead.
    """
    dispatch = (
        "CASE WHEN sv.sch = 'STRING' THEN "
        + res_sql(s="cast(sv.v as string)", kind="'string'")
        + " WHEN sv.sch = 'BOOLEAN' THEN "
        + res_sql(b="cast(sv.v as boolean)", kind="'bool'")
        + " WHEN sv.sch IN ('BIGINT','INT','SMALLINT','TINYINT',"
        "'DOUBLE','FLOAT') OR sv.sch LIKE 'DECIMAL%' THEN "
        + res_sql(d="cast(sv.v as double)", kind="'double'")
        + " ELSE " + res_sql(kind="'other'") + " END"
    )
    pre = (
        "transform_values(`fields`, (k, v) -> "
        "named_struct('v', v, 'sch', schema_of_variant(v)))"
    )
    typed = f"transform_values({pre}, (k, sv) -> {dispatch})"

    entries = []
    for field, col in STRING_FIELDS.items():
        entries.append(
            f"'{field}', CASE WHEN `{col}` IS NOT NULL THEN "
            + res_sql(s=f"`{col}`", kind="'string'")
            + f" ELSE {res_sql()} END"
        )
    for field, col in DOUBLE_FIELDS.items():
        entries.append(
            f"'{field}', CASE WHEN `{col}` IS NOT NULL THEN "
            + res_sql(d=f"`{col}`", kind="'double'")
            + f" ELSE {res_sql()} END"
        )
    for field, col in BOOL_FIELDS.items():
        entries.append(
            f"'{field}', CASE WHEN `{col}` IS NOT NULL THEN "
            + res_sql(b=f"`{col}`", kind="'bool'")
            + f" ELSE {res_sql()} END"
        )
    known = (
        "map_filter(map(" + ", ".join(entries) + "), "
        "(k, v) -> v.kind != 'missing')"
    )
    return f"explode(array(map_concat({typed}, {known})))"


def _typed_fields_expr() -> Column:
    return F.expr(_typed_fields_sql())


def with_typed_fields(df: DataFrame) -> DataFrame:
    """Materialize ``fields_typed`` (body variant dispatch ⊕ known
    columns, known winning) behind a generator barrier. Requires the
    session conf ``spark.sql.mapKeyDedupPolicy=LAST_WIN`` (pinned in
    session.RUNTIME_CONFS)."""
    from .util import memo_expr

    return df.withColumn(
        "fields_typed", memo_expr("fields.typed_fields", _typed_fields_expr)
    )


def field_str(name: str) -> Column:
    """Field as string iff its JSON type is string (Go type assert
    ``fields[k].(string)`` — non-strings behave as absent)."""
    e = F.element_at(F.col("fields_typed"), name)
    return F.when(e.getField("kind") == "string", e.getField("s"))
