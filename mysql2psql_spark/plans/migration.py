"""The migration pipeline as a planner (reference lifecycle §3.1 stages
[1]-[7] of SURVEY.md, re-expressed Spark-first).

The reference mutates a JSON dict through three stages, then runs a
per-row Python loop per table. Here each stage is a pure function over
the IR and the final per-table "physical plan" is a DataFrame transform:

    [1] INTROSPECT  -> schema IR (caller supplies; JDBC/parquet sources)
    [2] REWRITE     -> apply_schema_changes (renames/drops/overrides)
    [3] TYPE-MAP    -> apply_node_rules (mysql_to_psql conversions)
    [4] DDL GEN     -> sinks.ddl generators
    [5] DATA        -> select list of Column expressions per table
                       (dump rules -> dump_functions) + pre-SQL idioms
                       compiled to joins/filters — never source mutation
    [6] INDEX/FK    -> sinks.ddl fk/index generators
    [7] VIEWS       -> sinks.ddl view generator

`_PRE_SQL_` handling (M1): the reference executes user SQL against the
LIVE source (/root/reference/libs/MysqlParser.py:70-101). The engine is
read-only toward sources by design; the two idioms the reference actually
uses compile to transformations:
  - DELETE ... WHERE fk NOT IN (SELECT id FROM parent)  -> null-safe semi keep
  - UPDATE ... SET ts = ts - INTERVAL n HOUR            -> column shift
Anything else is surfaced as unsupported, not silently dropped.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from mysql2psql_spark.rules.handler import (
    SKIP,
    apply_node_rules,
    apply_schema_changes,
    compile_dump_plan,
    dump_expression,
)
from mysql2psql_spark.schema_ir import SchemaIR, to_struct_type

_ANTI_DELETE_RE = re.compile(
    r"DELETE\s+(?:IGNORE\s+)?FROM\s+(\w+)\s+WHERE\s+(\w+)\s+NOT\s+IN\s*"
    r"\(\s*SELECT\s+(\w+)\s+FROM\s+(\w+)\s*\)",
    re.IGNORECASE,
)
_INTERVAL_UPDATE_RE = re.compile(
    r"UPDATE\s+(?:IGNORE\s+)?(\w+)\s+SET\s+(\w+)\s*=\s*\2\s*-\s*INTERVAL\s+(\d+)\s+HOUR",
    re.IGNORECASE,
)


def compile_pre_sql(stmt: str) -> dict[str, Any]:
    """Parse one _PRE_SQL_ statement into a transformation spec."""
    m = _ANTI_DELETE_RE.search(stmt)
    if m:
        return {
            "kind": "semi_keep",
            "table": m.group(1),
            "fk": m.group(2),
            "parent_key": m.group(3),
            "parent": m.group(4),
        }
    m = _INTERVAL_UPDATE_RE.search(stmt)
    if m:
        return {"kind": "interval_shift", "table": m.group(1), "col": m.group(2), "hours": int(m.group(3))}
    return {"kind": "unsupported", "sql": stmt}


@dataclass
class MigrationPlan:
    """Everything stage [2]-[7] produce, checkpointable like the
    reference's three JSON IR files."""

    ir_rewritten: SchemaIR
    ir_converted: SchemaIR
    pre_sql: dict[str, list[dict[str, Any]]]
    dump_plans: dict[str, dict[str, list[str]]] = field(default_factory=dict)

    def select_exprs(self, table_key: str) -> list[Column]:
        table = self.ir_converted["tables"][table_key]
        plan = self.dump_plans.get(table_key, {})
        return [
            dump_expression(key, col, plan.get(key))
            for key, col in table["columns"].items()
            if not col.get(SKIP)
        ]

    def target_schema(self, table_key: str):
        return to_struct_type(self.ir_converted["tables"][table_key])


def plan_migration(
    ir: SchemaIR,
    schema_changes: dict[str, Any] | None = None,
    node_rules: dict[str, Any] | None = None,
    dump_rules: dict[str, Any] | None = None,
) -> MigrationPlan:
    from mysql2psql_spark.rules.defaults import MYSQL_RAW_DUMP, MYSQL_TO_PSQL

    rewritten, pre_sql_raw = apply_schema_changes(ir, schema_changes or {})
    converted = apply_node_rules(rewritten, node_rules or MYSQL_TO_PSQL)
    dump_rules = dump_rules or MYSQL_RAW_DUMP
    plan = MigrationPlan(
        ir_rewritten=rewritten,
        ir_converted=converted,
        pre_sql={t: [compile_pre_sql(s) for s in stmts] for t, stmts in pre_sql_raw.items()},
    )
    for key, table in converted["tables"].items():
        plan.dump_plans[key] = compile_dump_plan(table, dump_rules)
    return plan


def apply_pre_sql(
    df: DataFrame, specs: list[dict[str, Any]], parents: dict[str, DataFrame]
) -> DataFrame:
    """Apply compiled pre-SQL transformations to an extracted table.

    ``DELETE ... WHERE fk NOT IN (SELECT key FROM parent)`` keeps the
    rows whose ``fk`` matches a parent key AND the rows whose ``fk`` is
    NULL: MySQL evaluates ``NULL NOT IN (...)`` to NULL, which deletes
    nothing. One null-safe semi join against the parent keys plus one
    NULL row does both in a single hash join, with no job at
    construction. Two edges differ from MySQL, whose answer depends on
    the parent's contents: with an EMPTY parent MySQL deletes every
    row (``x NOT IN ()`` is true, NULL included) while the NULL-FK rows
    stay here; with a NULL parent key MySQL deletes nothing (an
    unmatched ``fk`` compares NULL) while unmatched rows go here. A
    parent key column declared NOT NULL rules out the second."""
    for spec in specs:
        if spec["kind"] == "semi_keep":
            pk = spec["parent_key"]
            parent = parents[spec["parent"]].select(pk)
            null_key = parent.sparkSession.range(1, numPartitions=1).select(
                F.lit(None).cast(parent.schema[pk].dataType).alias(pk)
            )
            keys = parent.union(null_key)
            df = df.join(keys, df[spec["fk"]].eqNullSafe(keys[pk]), "left_semi")
        elif spec["kind"] == "interval_shift":
            df = df.withColumn(
                spec["col"], F.col(spec["col"]) - F.expr(f"INTERVAL {spec['hours']} HOURS")
            )
        else:
            raise NotImplementedError(f"unsupported _PRE_SQL_: {spec['sql']}")
    return df


def migrate_table(
    df: DataFrame,
    plan: MigrationPlan,
    table_key: str,
    parents: dict[str, DataFrame] | None = None,
) -> DataFrame:
    """Stage [5] for one table: pre-SQL transforms, then the compiled
    select list (renames + value conversions) — a single narrow projection
    Catalyst fuses into the scan."""
    specs = plan.pre_sql.get(table_key, [])
    if specs:
        df = apply_pre_sql(df, specs, parents or {})
    return df.select(*plan.select_exprs(table_key))


def register_compat_views(
    spark, plan: MigrationPlan, migrated: dict[str, DataFrame], suffix: str = "_v1"
) -> list[str]:
    """D8's Spark-native analogue (reference: CREATE VIEW v1.t with old
    column names + NULL backfill for dropped columns, PsqlParser.py:
    162-197): register temp views exposing each migrated table under its
    ORIGINAL name and column set, so pre-migration queries keep running
    in-session. Returns the view names."""
    names = []
    for key, table in plan.ir_converted["tables"].items():
        if key not in migrated:
            continue
        df = migrated[key]
        cols = []
        for orig_key, col in table["columns"].items():
            if col.get(SKIP):
                cols.append(F.lit(None).alias(orig_key))
            else:
                cols.append(F.col(col["name"]).alias(orig_key))
        view = f"{key}{suffix}"
        df.select(*cols).createOrReplaceTempView(view)
        names.append(view)
    return names
