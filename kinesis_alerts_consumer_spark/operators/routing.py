"""Route assembly: per-record alert routes from _kvmeta plus the three
global rules, as a single array<route> column (no shuffle, no UDF).

Reference semantics reproduced (citations into /root/reference):

- kvmeta alert routes: only ``type == 'alerts'`` routes select
  (alerts_consumer_test.go:382-404); default dimensions ``Hostname``,
  ``env`` are appended to each (alerts_consumer.go:92-99, :23).
- global rules (NOT given default dims — they declare their own):
  * process-metrics (global_routes.go:40-74): ``via=='process-metrics'``
    and string ``source``/``title``/``type``; the ``'guage'`` library
    typo normalizes to ``'gauge'`` (:61-63); series
    ``process-metrics.<title>``; dims [Hostname, env, source];
    value_field ``value``.
  * RDS slow query (global_routes.go:138-162): syslog hostname
    ``aws-rds``, string ``user`` not equal ``rdsadmin[rdsadmin]``;
    counter ``rds.slow-query``; dims [env, programname].
  * mongo slow query (global_routes.go:88-136): ``rawlog`` matching
    ``MONGO_SLOW_RE`` derives record fields operation / namespace /
    is_collscan / millis (:106-109) and emits a counter
    ``mongo.slow-query`` (no value_field) plus a gauge
    ``mongo.slow-query-millis`` (value_field=millis); dims
    [hostname, operation, namespace, is_collscan].

The route array is built BEFORE the ignore filter so Catalyst sees
``size(routes) > 0`` as a plain filter over one codegen'd projection —
mirroring the reference's drop-early order (alerts_consumer.go:101-103)
while staying a narrow op at any scale.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .fields import with_typed_fields
from .util import memo_expr

DEFAULT_DIMENSIONS = ("Hostname", "env")

# Same pattern text as the reference (global_routes.go:88). Java regex
# and Go RE2 agree on all nine production fixtures (pinned in tests).
MONGO_SLOW_RE = r"^\[conn\d+\]\s([a-z]+)\s([^\s]+?)\s.*\s(\d+)ms$"

# Evaluated route schema: global rules emit these directly; kvmeta
# routes are projected onto it (type dropped after the alerts filter).
ALERT_ROUTE = (
    "struct<series: string, dimensions: array<string>, "
    "stat_type: string, value_field: string, rule: string>"
)


def _route(
    series: Column,
    dimensions: list[str],
    stat_type: Column | str,
    value_field: str | None,
    rule: str,
) -> Column:
    """Column-level route literal — used by the config-rule engine
    (:mod:`.rules`), whose specs are runtime values; the static global
    rules below build SQL text instead."""
    st = F.lit(stat_type) if isinstance(stat_type, str) else stat_type
    return F.struct(
        series.alias("series"),
        F.array(*[F.lit(d) for d in dimensions]).alias("dimensions"),
        st.alias("stat_type"),
        (F.lit(value_field) if value_field else F.lit(None).cast("string")).alias(
            "value_field"
        ),
        F.lit(rule).alias("rule"),
    )


# SQL-string construction: the four route builders concatenate into
# one F.expr parse instead of thousands of py4j Column calls (~0.8 s
# of driver time on first build of the kayvee path).

_EMPTY_ROUTES = f"cast(array() as array<{ALERT_ROUTE}>)"

# Record fields the global rules test. Resolved ONCE per record into
# the `_rule_fields` struct (see _rule_fields_sql) because interpreted
# (CodegenFallback) evaluation repeats every inline map lookup —
# 'type' alone appeared ~6x per record before staging.
_RULE_FIELD_NAMES = ("via", "source", "title", "type", "user")


def _rule_fields_sql() -> str:
    """One-map-lookup-per-field staging struct:
    ``_rule_fields.<name>`` holds the field's typed struct<s,d,b,kind>
    (NULL when absent). Downstream rule predicates read it with struct
    field access — O(1), no repeated map lookups."""
    entries = ", ".join(
        f"'{n}', try_element_at(fields_typed, '{n}')"
        for n in _RULE_FIELD_NAMES
    )
    return f"explode(array(named_struct({entries})))"


def _field_str_sql(name: str) -> str:
    """SQL twin of :func:`..fields.field_str` (Go ``.(string)``),
    reading the staged ``_rule_fields`` struct."""
    assert name in _RULE_FIELD_NAMES, name
    e = f"_rule_fields.`{name}`"
    return f"(CASE WHEN {e}.kind = 'string' THEN {e}.s END)"


def _sql_array(items: tuple[str, ...] | list[str]) -> str:
    return "array(" + ", ".join(f"'{d}'" for d in items) + ")"


def _route_sql(
    series: str,
    dimensions: list[str],
    stat_type: str,
    value_field: str | None,
    rule: str,
) -> str:
    vf = f"'{value_field}'" if value_field else "cast(null as string)"
    return (
        f"named_struct('series', {series}, "
        f"'dimensions', {_sql_array(dimensions)}, "
        f"'stat_type', {stat_type}, 'value_field', {vf}, 'rule', '{rule}')"
    )


def _kvmeta_alert_routes_sql() -> str:
    """_kvmeta.routes filtered to alerts, default dims appended
    (alerts_consumer.go:92-99, test :382-404)."""
    typed_empty = (
        "cast(array() as array<"
        + ALERT_ROUTE.replace("struct<", "struct<type: string, ")
        + ">)"
    )
    return (
        f"transform(filter(coalesce(kvmeta.routes, {typed_empty}), "
        "r -> r.type = 'alerts'), r -> named_struct("
        "'series', r.series, "
        "'dimensions', concat(coalesce(r.dimensions, "
        f"cast(array() as array<string>)), {_sql_array(DEFAULT_DIMENSIONS)}), "
        "'stat_type', r.stat_type, 'value_field', r.value_field, "
        "'rule', r.rule))"
    )


def _process_metrics_routes_sql() -> str:
    """global_routes.go:40-74, incl. the 'guage' typo fix (:61-63)."""
    stat = (
        f"(CASE WHEN {_field_str_sql('type')} = 'guage' THEN 'gauge' "
        f"ELSE {_field_str_sql('type')} END)"
    )
    cond = (
        f"{_field_str_sql('via')} = 'process-metrics' "
        f"AND {_field_str_sql('source')} IS NOT NULL "
        f"AND {_field_str_sql('title')} IS NOT NULL "
        f"AND {stat} IS NOT NULL"
    )
    route = _route_sql(
        f"concat('process-metrics.', {_field_str_sql('title')})",
        ["Hostname", "env", "source"],
        stat,
        "value",
        "global-process-metrics",
    )
    return f"CASE WHEN {cond} THEN array({route}) ELSE {_EMPTY_ROUTES} END"


def _rds_slow_query_routes_sql() -> str:
    """global_routes.go:138-162 (rdsadmin exclusion)."""
    user = _field_str_sql("user")
    cond = (
        f"hostname = 'aws-rds' AND {user} IS NOT NULL "
        f"AND {user} != 'rdsadmin[rdsadmin]'"
    )
    route = _route_sql(
        "'rds.slow-query'",
        ["env", "programname"],
        "'counter'",
        "value",
        "global-rds-slow-query-count",
    )
    return f"CASE WHEN {cond} THEN array({route}) ELSE {_EMPTY_ROUTES} END"


# Cheap codegen pre-filter for MONGO_SLOW_RE, mirroring the early-exit
# the reference gets from its rule ordering (global_routes.go:88-109):
# the pattern is anchored `^\[conn...` and contains a literal `ms`, so
# any regex match implies startswith('[conn') AND contains('ms') —
# gating the regex behind the guard is a pure short-circuit (proved
# for arbitrary inputs by tests/test_mongo_guard_equivalence.py).
# Non-mongo rawlogs (the overwhelming majority at 100 TB) never enter
# the regex engine: two substring probes vs a full RE2-equivalent scan.
_MONGO_GUARD_SQL = "(startswith(rawlog, '[conn') AND contains(rawlog, 'ms'))"


def _mongo_guard() -> Column:
    """Column twin of ``_MONGO_GUARD_SQL``."""
    return F.col("rawlog").startswith("[conn") & F.col("rawlog").contains("ms")


def _mongo_slow_query_routes_sql() -> str:
    """global_routes.go:88-136 — the route array only; the derived
    record fields are added by :func:`with_mongo_fields`."""
    pat = MONGO_SLOW_RE.replace("\\", "\\\\")
    dims = ["hostname", "operation", "namespace", "is_collscan"]
    counter = _route_sql(
        "'mongo.slow-query'", dims, "'counter'", None,
        "global-mongo-slow-query-count",
    )
    gauge = _route_sql(
        "'mongo.slow-query-millis'", dims, "'gauge'", "millis",
        "global-mongo-slow-query-gauge",
    )
    return (
        f"CASE WHEN {_MONGO_GUARD_SQL} AND rawlog RLIKE '{pat}' "
        f"THEN array({counter}, {gauge}) "
        f"ELSE {_EMPTY_ROUTES} END"
    )


def _mongo_field_exprs() -> dict[str, Column]:
    # guard first: CaseWhen/And short-circuit in codegen, so the regex
    # (and the extracts behind `matched`) never run on non-mongo lines
    matched = _mongo_guard() & F.col("rawlog").rlike(MONGO_SLOW_RE)
    return {
        "operation": F.when(
            matched, F.regexp_extract(F.col("rawlog"), MONGO_SLOW_RE, 1)
        ),
        "namespace": F.when(
            matched, F.regexp_extract(F.col("rawlog"), MONGO_SLOW_RE, 2)
        ),
        "is_collscan": F.when(matched, F.col("rawlog").contains("COLLSCAN")),
        "millis": F.when(
            matched,
            F.regexp_extract(F.col("rawlog"), MONGO_SLOW_RE, 3).cast("double"),
        ),
    }


def with_mongo_fields(df: DataFrame) -> DataFrame:
    """Derived columns the mongo rule injects into the record
    (global_routes.go:106-109): operation, namespace, is_collscan,
    millis. Null when the rule doesn't match."""
    return df.withColumns(memo_expr("routing.mongo_fields", _mongo_field_exprs))


def with_routes(df: DataFrame) -> DataFrame:
    """Assemble the full per-record route array (kvmeta alerts with
    default dims ++ global rules — alerts_consumer.go:92-99) plus the
    mongo derived fields. Adds ``routes`` and ``ignored`` columns."""
    df = with_mongo_fields(df)
    df = with_typed_fields(df)
    # Stage the rule-field lookups once per record (its own generator
    # barrier so CollapseProject can't re-inline the map lookups into
    # each consuming rule predicate).
    df = df.withColumn(
        "_rule_fields",
        memo_expr("routing.rule_fields", lambda: F.expr(_rule_fields_sql())),
    )
    # explode(array(...)) = generator barrier: the route-assembly
    # expression (kvmeta transform + three rule predicates over variant
    # fields) evaluates once per record instead of being inlined into
    # every downstream reference (see project.with_typed_fields).
    df = df.withColumn(
        "routes",
        memo_expr(
            "routing.routes_array",
            lambda: F.expr(
                "explode(array(concat("
                + ", ".join(
                    (
                        _kvmeta_alert_routes_sql(),
                        _process_metrics_routes_sql(),
                        _rds_slow_query_routes_sql(),
                        _mongo_slow_query_routes_sql(),
                    )
                )
                + ")))"
            ),
        ),
    )
    # F1 ignore filter (alerts_consumer.go:101-103): kept as a column so
    # callers can count ignores; `routed()` applies the filter.
    return df.withColumn("ignored", F.size("routes") <= 0)


def routed(df: DataFrame) -> DataFrame:
    """Drop ignored records (reference ErrMessageIgnored)."""
    return df.filter(~F.col("ignored"))
