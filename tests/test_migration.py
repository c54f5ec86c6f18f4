"""Golden tests for the rule compiler + DDL generators, replaying the
reference's checkpoint-diff workflow (main.py:54-69) on the migration
fixture from FIXTURES.md §B (reservation / reservation_reminder /
composite_pk_t / dropped_table)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from mysql2psql_spark import schema_ir as ir
from mysql2psql_spark.plans.migration import (
    apply_pre_sql,
    compile_pre_sql,
    migrate_table,
    plan_migration,
)
from mysql2psql_spark.sinks import ddl


@pytest.fixture()
def fixture_ir():
    reservation = ir.new_table(
        "reservation",
        [
            ir.new_column("id", "int", nullable=False, extra="auto_increment", is_pk=True),
            ir.new_column("created_at", "datetime", nullable=False),
            ir.new_column("is_active", "tinyint", full_type="tinyint(1)", nullable=False, default="1"),
            ir.new_column("total", "double", size="10,2"),
            ir.new_column("notes", "mediumtext"),
            ir.new_column("photo", "longblob"),
            ir.new_column("status", "enum", full_type="enum('new','paid','done')", size="8"),
            ir.new_column("start_time", "TIME", full_type="time"),
        ],
        auto_increment=1000,
    )
    reminder = ir.new_table(
        "reservation_reminder",
        [
            ir.new_column("id", "int", nullable=False, extra="auto_increment", is_pk=True),
            ir.new_column("resa_id", "int", nullable=True),
            ir.new_column("user_id", "int", nullable=False),
            ir.new_column("client_id", "int", nullable=True),
            ir.new_column("legacy_col", "varchar", size="50"),
            ir.new_column("remind_at", "datetime", full_type="datetime"),
        ],
    )
    composite = ir.new_table(
        "composite_pk_t",
        [
            ir.new_column("a", "int", nullable=False, is_pk=True),
            ir.new_column("b", "smallint", nullable=False, is_pk=True),
            ir.new_column("payload", "varchar", size="100"),
        ],
        indexes={"idx_payload": ["payload"]},
    )
    dropped = ir.new_table("dropped_table", [ir.new_column("x", "int")])
    return ir.new_schema([reservation, reminder, composite, dropped])


SCHEMA_CHANGES = {
    "tables": {
        "reservation_reminder": {
            "_PRE_SQL_": [
                "DELETE IGNORE FROM reservation_reminder WHERE resa_id NOT IN (SELECT id FROM reservation)"
            ],
            "name": "reminder",
            "columns": {
                "resa_id": {"name": "reservation_id", "reference": "reservation (id)"},
                "user_id": {"nullable": True},
                "client_id": {"reference": "client (id)"},
                "legacy_col": "_SKIP_",
            },
        },
        "dropped_table": "_SKIP_",
    }
}


@pytest.fixture()
def plan(fixture_ir):
    return plan_migration(fixture_ir, schema_changes=SCHEMA_CHANGES)


def test_schema_rewrite_and_type_map(plan):
    tables = plan.ir_converted["tables"]
    assert "dropped_table" not in tables  # P5 table skip
    rem = tables["reservation_reminder"]
    assert rem["name"] == "reminder"  # table rename
    assert rem["columns"]["resa_id"]["name"] == "reservation_id"  # P3
    assert rem["columns"]["resa_id"]["reference"] == "reservation (id)"
    assert rem["columns"]["user_id"]["nullable"] is True
    assert rem["columns"]["legacy_col"]["_SKIP_"] is True  # P4
    # the real "extra" attr survives the skip (reference keeps it too)
    assert rem["columns"]["legacy_col"].get("extra") != "_SKIP_"
    res = tables["reservation"]
    assert res["columns"]["is_active"]["type"] == "boolean"  # _IF_ tinyint(1)
    assert res["columns"]["created_at"]["type"] == "timestamp"
    assert res["columns"]["total"]["type"] == "decimal"  # double -> decimal
    assert res["columns"]["total"]["size"] == "10,2"  # dsize kept
    assert res["columns"]["notes"]["type"] == "text"
    assert res["columns"]["photo"]["type"] == "bytea"
    assert res["columns"]["status"]["type"] == "set"


def test_struct_type_metadata(plan):
    st = plan.target_schema("reservation_reminder")
    names = [f.name for f in st.fields]
    assert "reservation_id" in names and "legacy_col" in names
    f = st["reservation_id"]
    assert f.metadata["reference"] == "reservation (id)"
    total = plan.target_schema("reservation")["total"]
    assert total.dataType == T.DecimalType(10, 2)
    assert plan.target_schema("reservation")["is_active"].dataType == T.BooleanType()


def test_dump_plan_dispatch(plan):
    dp = plan.dump_plans["reservation"]
    assert dp["is_active"] == ["convertStrBoolean"]  # F6 via type=boolean
    assert dp["photo"] == ["makeItEmpty"]  # F10 via type=bytea
    assert dp["start_time"] == ["makeItTime"]  # F11 via type=TIME
    assert dp["created_at"] == ["notNullableDatetime"]  # F8 via fullType
    dp2 = plan.dump_plans["reservation_reminder"]
    assert dp2["resa_id"] == ["refToNullable"]  # F9 via reference notNone


def test_pre_sql_compiles_to_semi_join():
    spec = compile_pre_sql(
        "DELETE IGNORE FROM reservation_reminder WHERE resa_id NOT IN (SELECT id FROM reservation)"
    )
    assert spec == {
        "kind": "semi_keep",
        "table": "reservation_reminder",
        "fk": "resa_id",
        "parent_key": "id",
        "parent": "reservation",
    }
    shift = compile_pre_sql("UPDATE t SET remind_at = remind_at - INTERVAL 2 HOUR")
    assert shift == {"kind": "interval_shift", "table": "t", "col": "remind_at", "hours": 2}
    assert compile_pre_sql("TRUNCATE t")["kind"] == "unsupported"


def test_pre_sql_anti_delete_keeps_null_fk_like_mysql(spark):
    """``DELETE ... WHERE fk NOT IN (SELECT id FROM parent)`` deletes
    nothing where fk is NULL (``NULL NOT IN (...)`` is NULL), so the
    compiled semi keep must retain NULL-FK rows; DuckDB runs the
    statement itself as the oracle."""
    import duckdb

    stmt = "DELETE FROM child WHERE fk NOT IN (SELECT id FROM parent)"
    child_rows, parent_ids = [(1, 1), (2, None), (3, 9), (4, 2), (5, None)], [1, 2]
    child = spark.createDataFrame(child_rows, "id int, fk int")
    parent = spark.createDataFrame([(i,) for i in parent_ids], "id int")
    got = apply_pre_sql(child, [compile_pre_sql(stmt)], {"parent": parent})

    con = duckdb.connect()
    con.execute("CREATE TABLE child (id INT, fk INT)")
    con.executemany("INSERT INTO child VALUES (?, ?)", child_rows)
    con.execute("CREATE TABLE parent (id INT)")
    con.executemany("INSERT INTO parent VALUES (?)", [(i,) for i in parent_ids])
    con.execute(stmt)
    want = con.execute("SELECT id, fk FROM child ORDER BY id").fetchall()
    assert sorted((r.id, r.fk) for r in got.collect()) == want
    assert [i for i, _ in want] == [1, 2, 4, 5]


def test_migrate_table_data_semantics(spark, plan):
    reminders = spark.createDataFrame(
        [
            (1, 10, 5, 0, "x", "2020-01-01 10:00:00"),
            (2, 0, 6, 3, "y", "0000-00-00 00:00:00"),
            (3, 999, 7, None, "z", None),  # orphan: resa 999 doesn't exist
        ],
        "id int, resa_id int, user_id int, client_id int, legacy_col string, remind_at string",
    )
    parents = {"reservation": spark.createDataFrame([(10,), (0,)], "id int")}
    out = migrate_table(reminders, plan, "reservation_reminder", parents)
    rows = {r.id: r for r in out.collect()}
    assert set(rows) == {1, 2}  # orphan 3 removed (J3 semi-keep)
    assert list(out.columns) == ["id", "reservation_id", "user_id", "client_id", "remind_at"]
    assert rows[1].reservation_id == 10
    assert rows[2].reservation_id is None  # F9: FK 0 -> NULL
    assert rows[2].remind_at is None  # F7/F8: zero-datetime, nullable -> NULL


def test_migrate_reservation_values(spark, plan):
    res = spark.createDataFrame(
        [
            (1, "2020-05-01 00:00:00", "1", 9.5, "n", bytearray(b"img"), "new", "12:34"),
            (2, "0000-00-00 00:00:00", "0", None, None, None, "paid", "bad"),
        ],
        "id int, created_at string, is_active string, total double, notes string, "
        "photo binary, status string, start_time string",
    )
    out = migrate_table(res, plan, "reservation").collect()
    by_id = {r.id: r for r in out}
    assert by_id[1].is_active is True and by_id[2].is_active is False  # F6
    # created_at NOT NULL -> zero-date gets the epoch fallback (F8)
    assert by_id[2].created_at == "1900-01-01 00:00:00"
    assert by_id[1].photo is None and by_id[2].photo is None  # F10
    assert by_id[1].start_time == "12:34" and by_id[2].start_time is None  # F11


def test_ddl_generation(plan):
    res_sql = ddl.create_table_ddl(plan.ir_converted["tables"]["reservation"])
    assert '"id" SERIAL' in res_sql and "PRIMARY KEY" in res_sql
    assert '"total" DECIMAL' in res_sql and "DECIMAL(10,2)" not in res_sql  # size suppressed
    assert '"notes" TEXT' in res_sql and "TEXT(" not in res_sql
    # the rule file maps enum->'set' (reference parity in the IR), but
    # SET is not a PostgreSQL type — the renderer repairs it to VARCHAR
    # + CHECK over the original enum labels (validated on live PG 15)
    assert "\"status\" VARCHAR CHECK (\"status\" IN ('new','paid','done'))" in res_sql
    assert '"status" SET' not in res_sql
    # column ordering: PK first
    assert res_sql.index('"id"') < res_sql.index('"created_at"')

    comp_sql = ddl.create_table_ddl(plan.ir_converted["tables"]["composite_pk_t"])
    assert "PRIMARY KEY (\"a\", \"b\")" in comp_sql
    assert comp_sql.count("PRIMARY KEY") == 1  # singles demoted (D3)

    rem = plan.ir_converted["tables"]["reservation_reminder"]
    rem_sql = ddl.create_table_ddl(rem)
    assert "legacy_col" not in rem_sql  # skipped column excluded
    # FK ordering: reservation_id (FK) before plain columns, after PK
    assert rem_sql.index('"id"') < rem_sql.index('"reservation_id"') < rem_sql.index('"remind_at"')

    fks = ddl.fk_constraint_ddl(rem)
    assert any(
        '"reminder_reservation_id_fkey" FOREIGN KEY ("reservation_id") REFERENCES reservation (id) '
        "ON DELETE RESTRICT DEFERRABLE INITIALLY IMMEDIATE" in s
        for s in fks
    )

    idx = ddl.create_index_ddl(plan.ir_converted["tables"]["composite_pk_t"])
    assert idx == ['CREATE INDEX "composite_pk_t_idx_payload_x" ON "composite_pk_t" ("payload");']

    seqs = ddl.sequence_ddl(plan.ir_converted["tables"]["reservation"])
    assert seqs == ["SELECT setval('reservation_id_seq', 1000, false);"]

    view = ddl.view_ddl("reservation_reminder", rem)
    assert view.startswith('CREATE VIEW "v1"."reservation_reminder" (')
    assert '"legacy_col"' in view and "NULL" in view  # D8 NULL backfill
    assert "WITH CASCADED CHECK OPTION" in view


def test_set_column_ddl_allows_multivalue():
    """A true MySQL SET column stores comma-joined combinations ('a,b'),
    so the enum-style IN(...) CHECK would reject valid multi-valued rows
    mid-\\copy — the r7 advice finding. SET renders as a per-element
    containment CHECK instead; ENUM keeps the IN(...) form."""
    t = ir.new_table(
        "tagged",
        [
            ir.new_column("id", "int", nullable=False, is_pk=True),
            ir.new_column("tags", "set", full_type="set('red','green','blue')"),
            ir.new_column("state", "set", full_type="enum('on','off')"),
        ],
    )
    sql = ddl.create_table_ddl(t)
    assert (
        "\"tags\" VARCHAR CHECK (string_to_array(\"tags\", ',') "
        "<@ ARRAY['red','green','blue'])" in sql
    )
    assert "\"tags\" VARCHAR CHECK (\"tags\" IN" not in sql
    # enum fullType untouched by the set fix
    assert "\"state\" VARCHAR CHECK (\"state\" IN ('on','off'))" in sql


def test_ir_json_roundtrip(plan):
    s = ir.to_json(plan.ir_converted)
    assert ir.from_json(s) == plan.ir_converted


REF_RULES = "/root/reference/rules"


@pytest.mark.skipif(not __import__("os").path.isdir(REF_RULES), reason="reference not present")
def test_reference_rule_files_golden():
    """Parity pin: the engine consumes the reference's OWN rule files
    (mysql_to_psql.json, mysql_raw_dump.json) unmodified and reproduces
    the §1.2 type-conversion table and the dump-function dispatch.
    (schema_changes.json is a sample with a trailing comma — invalid
    strict JSON even for the reference's own json.load — so the
    schema-change shape is covered by the fixture tests above instead.)
    """
    import json

    from mysql2psql_spark import schema_ir as ir
    from mysql2psql_spark.rules.handler import apply_node_rules, compile_dump_plan

    with open(f"{REF_RULES}/mysql_to_psql.json") as f:
        node_rules = json.load(f)
    with open(f"{REF_RULES}/mysql_raw_dump.json") as f:
        dump_rules = json.load(f)

    table = ir.new_table(
        "t",
        [
            ir.new_column("flag", "tinyint", full_type="tinyint(1)"),
            ir.new_column("small", "tinyint", full_type="tinyint(4)"),
            ir.new_column("med", "mediumint"),
            ir.new_column("body", "longtext"),
            ir.new_column("bin", "blob"),
            ir.new_column("price", "double", size="10,2"),
            ir.new_column("kind", "enum"),
            ir.new_column("created", "datetime", full_type="datetime"),
            ir.new_column("fk", "int", reference="parent (id)"),
        ],
    )
    schema = apply_node_rules(ir.new_schema([table]), node_rules)
    cols = schema["tables"]["t"]["columns"]
    assert cols["flag"]["type"] == "boolean"
    assert cols["small"]["type"] == "smallint"
    assert cols["med"]["type"] == "int"
    assert cols["body"]["type"] == "text"
    assert cols["bin"]["type"] == "bytea"
    assert cols["price"]["type"] == "decimal"
    assert cols["kind"]["type"] == "set"
    assert cols["created"]["type"] == "timestamp"

    dispatch = compile_dump_plan(schema["tables"]["t"], dump_rules)
    assert dispatch["flag"] == ["convertStrBoolean"]
    assert dispatch["bin"] == ["makeItEmpty"]
    assert dispatch["created"] == ["notNullableDatetime"]
    assert dispatch["fk"] == ["refToNullable"]


def test_dump_rules_compose_in_sequence(spark):
    """A nullable FK datetime column matches BOTH notNullableDatetime and
    refToNullable; the reference applies every match in rule order
    (PsqlParser.py:200-214), not first-match-wins."""
    import json

    from mysql2psql_spark import schema_ir as ir
    from mysql2psql_spark.rules.handler import compile_dump_plan, dump_expression

    with open(f"{REF_RULES}/mysql_raw_dump.json") as f:
        dump_rules = json.load(f)
    table = ir.new_table(
        "t",
        [
            ir.new_column(
                "fk_created", "timestamp", full_type="datetime",
                reference="parent (id)", nullable=True,
            ),
        ],
    )
    dispatch = compile_dump_plan(table, dump_rules)
    assert dispatch["fk_created"] == ["notNullableDatetime", "refToNullable"]

    # and the composed expression evaluates both conversions in order:
    # zero-datetime -> NULL (stays NULL through refToNullable), '0' -> NULL
    df = spark.createDataFrame(
        [("0000-00-00 00:00:00",), ("0",), ("2021-05-01 10:00:00",)], ["fk_created"]
    )
    col = table["columns"]["fk_created"]
    out = [r[0] for r in df.select(dump_expression("fk_created", col, dispatch["fk_created"])).collect()]
    assert out == [None, None, "2021-05-01 10:00:00"]


def test_incremental_watermark_two_runs(spark, tmp_path):
    from mysql2psql_spark.plans.incremental import (
        advance_watermark,
        incremental_scan,
        load_watermarks,
        save_watermarks,
    )

    state = str(tmp_path / "wm.json")
    df = spark.createDataFrame(
        [(1, 10), (2, 20), (3, 30)], "id bigint, seq bigint"
    )
    # run 1: everything flows, watermark lands at 30
    marks = load_watermarks(state)
    out1 = incremental_scan(df, "t", "seq", marks)
    assert out1.count() == 3
    save_watermarks(state, advance_watermark(out1, "t", "seq", marks))

    # run 2: two new rows arrive; only they flow
    df2 = spark.createDataFrame(
        [(1, 10), (2, 20), (3, 30), (4, 40), (5, 50)], "id bigint, seq bigint"
    )
    marks = load_watermarks(state)
    assert marks == {"t": 30}
    out2 = incremental_scan(df2, "t", "seq", marks)
    assert sorted(r.id for r in out2.collect()) == [4, 5]
    # pushed into the scan (filter above the relation, no full re-read)
    assert "seq" in out2._jdf.queryExecution().executedPlan().toString()

    # run 3: nothing new -> empty output, watermark holds at 50
    save_watermarks(state, advance_watermark(out2, "t", "seq", marks))
    marks = load_watermarks(state)
    assert marks == {"t": 50}
    out3 = incremental_scan(df2, "t", "seq", marks)
    assert out3.count() == 0
    assert advance_watermark(out3, "t", "seq", marks) == {"t": 50}


def test_compat_views_expose_old_schema(spark, plan):
    from mysql2psql_spark.plans.migration import migrate_table, register_compat_views

    reminders = spark.createDataFrame(
        [(1, 10, 5, 7, "a", "2020-01-01 10:00:00"), (2, 0, 6, 8, "b", None)],
        "id int, resa_id int, user_id int, client_id int, legacy_col string, remind_at string",
    )
    parents = {"reservation": spark.createDataFrame([(10,), (0,)], "id int")}
    migrated = {
        "reservation_reminder": migrate_table(reminders, plan, "reservation_reminder", parents)
    }
    views = register_compat_views(spark, plan, migrated)
    assert views == ["reservation_reminder_v1"]
    rows = spark.sql(
        "SELECT id, resa_id, legacy_col FROM reservation_reminder_v1 ORDER BY id"
    ).collect()
    # old column names resolve; renamed column reads through; skipped
    # column backfills NULL (reference PsqlParser.py:184)
    assert [(r.id, r.resa_id, r.legacy_col) for r in rows] == [(1, 10, None), (2, None, None)]


def test_parquet_schema_evolution_merge(spark, tmp_path):
    """mergeSchema unifies batches written with evolving schemas — the
    ingestion reality of a long-lived 100 TB table."""
    p = str(tmp_path / "evolving")
    spark.createDataFrame([(1, "a")], "id bigint, name string").write.parquet(f"{p}/b1")
    spark.createDataFrame(
        [(2, "b", 9.5)], "id bigint, name string, score double"
    ).write.parquet(f"{p}/b2")
    df = spark.read.option("mergeSchema", "true").parquet(f"{p}/b1", f"{p}/b2")
    assert set(df.columns) == {"id", "name", "score"}
    rows = {r.id: r.score for r in df.collect()}
    assert rows == {1: None, 2: 9.5}


def test_user_bootstrap_sql_statement_set():
    """D9 (PsqlParser.py:288-345) + F15 ($ -> \\0024, :294)."""
    from mysql2psql_spark.sinks.ddl import escape_password, user_bootstrap_sql

    assert escape_password("a$b$c") == "a\\0024b\\0024c"

    sql = user_bootstrap_sql("app_user", "p$ss", "client_acme")
    # idempotent create-or-alter with the escaped U&'' literal
    assert "CREATE USER app_user WITH PASSWORD U&'p\\0024ss';" in sql
    assert "ALTER USER app_user WITH PASSWORD U&'p\\0024ss';" in sql
    assert "IF NOT EXISTS" in sql and "pg_catalog.pg_user" in sql
    # ownership + connect + group role
    assert "ALTER DATABASE client_acme OWNER TO app_user;" in sql
    assert "GRANT CONNECT ON DATABASE client_acme TO app_user;" in sql
    assert "GRANT b7group_user TO app_user;" in sql
    # the grant battery over BOTH schemas (v1 first, like the reference)
    for schema in ("v1", "public"):
        assert f"GRANT USAGE ON SCHEMA {schema} TO app_user;" in sql
        assert f"GRANT ALL ON ALL SEQUENCES IN SCHEMA {schema} TO app_user;" in sql
        assert f"GRANT ALL PRIVILEGES ON ALL TABLES IN SCHEMA {schema} TO app_user;" in sql
    assert sql.index("GRANT USAGE ON SCHEMA v1") < sql.index("GRANT USAGE ON SCHEMA public")
    # search_path + default privileges for future objects
    assert "ALTER DATABASE client_acme SET search_path TO v1, public;" in sql
    assert "ALTER USER app_user SET search_path TO v1, public;" in sql
    assert "ALTER DEFAULT PRIVILEGES IN SCHEMA public GRANT ALL ON TABLES TO app_user;" in sql
    assert "ALTER DEFAULT PRIVILEGES IN SCHEMA v1 GRANT ALL ON SEQUENCES TO app_user;" in sql

    # guards (PsqlParser.py:292-293): missing / empty / root -> ""
    assert user_bootstrap_sql(None, "x", "d") == ""
    assert user_bootstrap_sql("u", None, "d") == ""
    assert user_bootstrap_sql("", "x", "d") == ""
    assert user_bootstrap_sql("root", "x", "d") == ""


def test_cli_emits_psql_users(spark, tmp_path):
    """The S6 credentials path drives psql_users.sql emission."""
    from mysql2psql_spark.cli import migrate_db
    from mysql2psql_spark.sources import load_table
    from tests.conftest import SF_DIR

    frames = {"region": load_table(spark, SF_DIR, "region")}
    migrate_db(
        spark, "acme", frames, str(tmp_path), bootstrap_creds=("app_user", "s3$ret")
    )
    users_sql = (tmp_path / "acme" / "psql_users.sql").read_text()
    assert "CREATE USER app_user WITH PASSWORD U&'s3\\0024ret';" in users_sql
    assert "ALTER DATABASE client_acme OWNER TO app_user;" in users_sql
