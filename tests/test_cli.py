"""CLI lifecycle test: the reference's entry-point shape produces the
reference's artifact tree (§3.1 stages [1]-[7]) from a Parquet source."""

from __future__ import annotations

import glob
import json
import os
from pathlib import Path

import duckdb

from mysql2psql_spark.cli import load_json_lenient, migrate_db
from mysql2psql_spark.sources import load_table
from tests.conftest import SF_DIR


def test_cli_artifact_tree(spark, tmp_path):
    frames = {n: load_table(spark, SF_DIR, n) for n in ("region", "nation")}
    changes = {
        "tables": {
            "nation": {
                "name": "nations",
                "columns": {
                    "n_name": {"name": "nation_name"},
                    "n_regionkey": {"reference": "region (r_regionkey)"},
                },
            }
        }
    }
    report = migrate_db(
        spark, "db1", frames, str(tmp_path), schema_changes=changes, v1_schema="v1"
    )
    base = tmp_path / "db1"
    for artifact in (
        "mysql_schema.json",
        "mysql_schema_v2.json",
        "psql_schema.json",
        "psql_tables.sql",
        "psql_data.sql",
        "psql_index_fk.sql",
        "psql_views.sql",
        "logs/db1.log",
    ):
        assert (base / artifact).exists(), artifact
    assert {"introspect", "plan", "ddl", "data", "index_fk", "views"} <= set(report)

    ddl = (base / "psql_tables.sql").read_text()
    assert 'CREATE TABLE "nations"' in ddl
    assert '"nation_name"' in ddl
    fk = (base / "psql_index_fk.sql").read_text()
    # the reference inserts the `reference` attr raw ("table (col)"),
    # unquoted — PsqlParser.py:385-403; we match that exactly
    assert "REFERENCES region (r_regionkey)" in fk
    views = (base / "psql_views.sql").read_text()
    assert 'CREATE VIEW "v1"."nation"' in views

    # the \copy manifest references the renamed table and columns
    manifest = (base / "psql_data.sql").read_text()
    assert '\\copy "nations" ("n_nationkey", "nation_name", "n_regionkey")' in manifest

    # data round-trip: the emitted CSV holds exactly the source rows
    csv = glob.glob(str(base / "tables" / "nations.sql" / "*.csv"))[0]
    con = duckdb.connect()
    n = con.execute(
        "SELECT COUNT(*), COUNT(DISTINCT nation_name) FROM "
        f"read_csv('{csv}', header=false, names=['n_nationkey','nation_name','n_regionkey'], quote='''')"
    ).fetchone()
    src = frames["nation"].count()
    assert n[0] == src and n[1] == src


def test_lenient_json_accepts_reference_sample(tmp_path):
    # the reference's own schema_changes.json sample has a trailing comma
    ref = "/root/reference/rules/schema_changes.json"
    if os.path.isfile(ref):
        parsed = load_json_lenient(ref)
        assert "reservation_reminder" in parsed["tables"]
    p = tmp_path / "x.json"
    p.write_text('{"a": [1, 2,], "b": {"c": 1,},}')
    assert load_json_lenient(str(p)) == {"a": [1, 2], "b": {"c": 1}}


def test_cli_all_databases_layout(spark, tmp_path):
    """all-databases over a parent dir of per-db parquet dirs."""
    import shutil
    import subprocess
    import sys

    root = tmp_path / "dbs"
    for db in ("alpha", "beta"):
        os.makedirs(root / db, exist_ok=True)
        for t in ("region",):
            shutil.copy(f"{SF_DIR}/{t}.parquet", root / db / f"{t}.parquet")
    r = subprocess.run(
        [
            sys.executable,
            "-m",
            "mysql2psql_spark.cli",
            "all-databases",
            "--source",
            f"parquet:{root}",
            "--out",
            str(tmp_path / "out"),
        ],
        capture_output=True,
        text=True,
        timeout=240,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    out = json.loads(r.stdout.strip().splitlines()[-1])
    assert set(out["databases"]) == {"alpha", "beta"}
    for db in ("alpha", "beta"):
        assert (tmp_path / "out" / db / "psql_tables.sql").exists()


def test_data_manifest_has_load_session_wrappers(spark, tmp_path):
    frames = {"region": load_table(spark, SF_DIR, "region")}
    migrate_db(spark, "db2", frames, str(tmp_path))
    manifest = (tmp_path / "db2" / "psql_data.sql").read_text().splitlines()
    assert manifest[0] == "SET search_path TO public;"  # PsqlParser.py:150-151
    assert manifest[1] == "SET standard_conforming_strings = 'on';"  # PsqlParser.py:360
    assert "SET CONSTRAINTS ALL DEFERRED;" in manifest[:6]
    assert manifest[-1] == "SET CONSTRAINTS ALL IMMEDIATE;"


def test_cli_incremental_two_runs(spark, tmp_path):
    import subprocess
    import sys

    out = str(tmp_path / "inc_out")

    def run():
        return subprocess.run(
            [sys.executable, "-m", "mysql2psql_spark.cli", "events_db", "events",
             "--source", f"parquet:{SF_DIR}", "--out", out, "--incremental", "event_id"],
            capture_output=True, text=True, timeout=240,
        )

    r1 = run()
    assert r1.returncode == 0, r1.stderr[-2000:]
    marks = json.load(open(f"{out}/events_db/watermarks.json"))
    n_events = load_table(spark, SF_DIR, "events").count()
    assert marks["events"] == n_events - 1  # event_ids are 0..n-1
    # bootstrap run emits the full DDL tree
    assert os.path.exists(f"{out}/events_db/psql_tables.sql")
    ddl_mtime = os.path.getmtime(f"{out}/events_db/psql_tables.sql")

    # second run over unchanged source: zero rows extracted, mark holds
    r2 = run()
    assert r2.returncode == 0, r2.stderr[-2000:]
    marks2 = json.load(open(f"{out}/events_db/watermarks.json"))
    assert marks2 == marks
    import glob as _glob

    csv = _glob.glob(f"{out}/events_db/tables/events.sql/*.csv")
    assert csv and sum(os.path.getsize(c) for c in csv) == 0
    # delta runs must be append-only: the destructive DDL artifacts
    # (DROP SCHEMA/TABLE CASCADE) are NOT regenerated, so replaying the
    # artifact tree never wipes previously loaded data
    assert os.path.getmtime(f"{out}/events_db/psql_tables.sql") == ddl_mtime
    data_sql = open(f"{out}/events_db/psql_data.sql").read()
    assert "DROP" not in data_sql.upper()


def test_cli_from_dump_mode(tmp_path):
    import subprocess
    import sys

    src = tmp_path / "mysql_dump.sql"
    src.write_text('INSERT INTO "t" ("id") VALUES (1);\n-- noise\n')
    r = subprocess.run(
        [sys.executable, "-m", "mysql2psql_spark.cli", "dumpdb",
         "--source", "parquet:/nonexistent", "--out", str(tmp_path / "out"),
         "--from-dump", str(src)],
        capture_output=True, text=True, timeout=240,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    out = json.loads(r.stdout.strip().splitlines()[-1])
    assert out["databases"]["dumpdb"]["insert_lines"] == 1
    text = (tmp_path / "out" / "dumpdb" / "psql_dump.sql").read_text()
    assert 'INSERT INTO "t" ("id") VALUES  (1);' in text


def test_cli_csv_source_reingests_artifact_tree(spark, tmp_path):
    """csv:<artifact-dir> closes the lifecycle loop: a table dumped by
    migrate_db is re-ingested schema-first from psql_schema.json +
    tables/<name>.sql, row-for-row (including the rename applied by the
    migration rules)."""
    from mysql2psql_spark.cli import _csv_tables

    frames = {n: load_table(spark, SF_DIR, n) for n in ("region", "nation")}
    changes = {"tables": {"nation": {"name": "nations", "columns": {"n_name": "_SKIP_"}}}}
    migrate_db(spark, "db1", frames, str(tmp_path), schema_changes=changes)

    back = _csv_tables(spark, str(tmp_path / "db1"), only=[])
    # keys are the ORIGINAL table keys; files carry converted names
    assert set(back) == {"region", "nation"}
    assert back["region"].count() == frames["region"].count()
    # the skipped column is not in the CSV, so not in the re-read schema
    assert back["nation"].columns == ["n_nationkey", "n_regionkey"]
    cols = ("n_nationkey", "n_regionkey")
    got = {(r[0], r[1]) for r in back["nation"].select(*cols).collect()}
    want = {(r[0], r[1]) for r in frames["nation"].select(*cols).collect()}
    assert got == want


def _write_one_row_group(path, n: int, seed: int, low_card_first: bool = False) -> None:
    """A parquet file of ``n`` rows in ONE row group (unsplittable by the
    scan), with NULLs and empty strings in its string, boolean, date and
    timestamp columns."""
    import datetime as dt
    import random

    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(seed)
    cols = {
        "id": pa.array(range(n), pa.int64()),
        "note": pa.array(
            [rng.choice([None, "", "it's", "a,b", "NULL"]) if i % 7 == 0
             else f"{rng.getrandbits(128):032x}" for i in range(n)]
        ),
        "flag": pa.array([None if i % 11 == 0 else i % 2 == 0 for i in range(n)]),
        "day": pa.array([None if i % 13 == 0 else dt.date(2020, 1, 1 + i % 28)
                         for i in range(n)]),
        "ts": pa.array([None if i % 17 == 0 else dt.datetime(2021, 1, 1, i % 24, i % 60)
                        for i in range(n)], pa.timestamp("us")),
    }
    if low_card_first:
        cols = {"k": pa.array([i % 3 for i in range(n)], pa.int32()), **cols}
    table = pa.table(cols)
    pq.write_table(table, path, row_group_size=n)
    assert pq.ParquetFile(path).metadata.num_row_groups == 1


def _raw_csv_counts(paths: list[str], columns: list[str]) -> list[int]:
    """Row count plus per-column NULL (bare empty field) and empty-string
    (quoted '') counts, read from the CSV text by DuckDB, not Spark."""
    aggs = ["count(*)"] + [
        f"""count(*) FILTER (WHERE "{c}" IS NULL), count(*) FILTER (WHERE "{c}" = '')"""
        for c in columns
    ]
    types = ", ".join(f"'{c}': 'VARCHAR'" for c in columns)
    return list(
        duckdb.connect().execute(
            f"SELECT {', '.join(aggs)} FROM read_csv({sorted(paths)!r}, columns={{{types}}}, "
            "delim=',', quote='''', escape='''', header=false, nullstr='', "
            "allow_quoted_nulls=false, auto_detect=false)"
        ).fetchone()
    )


def test_cli_spreads_single_row_group_tables(spark, tmp_path):
    """migrate_db spreads a single-row-group table within the fan-out
    byte gate that holds at least 1/width of the migration's bytes to
    cluster width before its rules, so each task writes one part file
    with one \\copy line. The parts together hold exactly what the
    single-file write holds, rows spread evenly even when the first
    column has three values, and a table below the byte floor, or with
    a smaller share, stays one part."""
    import re

    from mysql2psql_spark import schema_ir as ir
    from mysql2psql_spark.plans.migration import migrate_table, plan_migration
    from mysql2psql_spark.sinks import write_reference_csv
    from mysql2psql_spark.sources.parquet import _FANOUT_MIN_BYTES

    src = tmp_path / "src"
    src.mkdir()
    _write_one_row_group(src / "big.parquet", 40_000, seed=1)
    _write_one_row_group(src / "skewed.parquet", 40_000, seed=2, low_card_first=True)
    _write_one_row_group(src / "mid.parquet", 9_000, seed=3)
    _write_one_row_group(src / "small.parquet", 500, seed=4)
    names = ("big", "skewed", "mid", "small")
    sizes = {n: os.path.getsize(src / f"{n}.parquet") for n in names}
    assert sizes["big"] >= 4 * _FANOUT_MIN_BYTES and sizes["skewed"] >= 4 * _FANOUT_MIN_BYTES
    assert sizes["mid"] >= _FANOUT_MIN_BYTES > sizes["small"]

    frames = {n: load_table(spark, str(src), n) for n in sizes}
    migrate_db(spark, "spread", frames, str(tmp_path / "out"))
    base = tmp_path / "out" / "spread"
    copies = re.findall(
        r"""^\\copy "(\w+)" \((.*)\) FROM '([^']+)'""",
        (base / "psql_data.sql").read_text(),
        re.MULTILINE,
    )
    width = spark.sparkContext.defaultParallelism
    plan = plan_migration(ir.new_schema([ir.from_dataframe(n, df) for n, df in frames.items()]))
    for name in sizes:
        listed = [p for t, _, p in copies if t == name]
        on_disk = glob.glob(str(base / "tables" / f"{name}.sql" / "part-*.csv"))
        assert sorted(listed) == sorted(on_disk)  # one \copy per part file
        spread = (
            width > 2
            and sizes[name] >= _FANOUT_MIN_BYTES
            and sizes[name] * width >= sum(sizes.values())
        )
        assert len(listed) == (width if spread else 1), name

        columns = re.findall(r'"([^"]*)"', next(c for t, c, _ in copies if t == name))
        single = str(tmp_path / "single" / f"{name}.sql")
        write_reference_csv(
            migrate_table(frames[name], plan, name, parents=frames), single, single_file=True
        )
        single_parts = glob.glob(f"{single}/part-*.csv")
        assert len(single_parts) == 1
        assert _raw_csv_counts(listed, columns) == _raw_csv_counts(single_parts, columns), name

        rows = [len(Path(p).read_text().splitlines()) for p in listed]
        assert max(rows) <= 2 * sum(rows) / len(rows), (name, rows)


def test_cli_export_jsonl_sibling_artifacts(spark, tmp_path):
    """--export-jsonl must write each migrated table as JSONL next to
    the \\copy CSVs, with the SAME transformed rows (rename applied,
    identical row count) and one JSON object per line."""
    frames = {n: load_table(spark, SF_DIR, n) for n in ("region", "nation")}
    changes = {"tables": {"nation": {"name": "nations", "columns": {"n_name": {"name": "nation_name"}}}}}
    migrate_db(
        spark,
        "dbj",
        frames,
        str(tmp_path),
        schema_changes=changes,
        export_jsonl=True,
    )
    base = tmp_path / "dbj"
    jdir = base / "jsonl" / "nations"
    parts = glob.glob(str(jdir / "part-*"))
    assert parts, "no JSONL parts written"
    lines = []
    for f in parts:
        with open(f) as fh:
            lines += [ln for ln in fh.read().splitlines() if ln]
    n_src = frames["nation"].count()
    assert len(lines) == n_src
    objs = [json.loads(ln) for ln in lines]
    # the rename from schema_changes is applied in the export too
    assert all("nation_name" in o for o in objs)
    assert all("n_name" not in o for o in objs)


def test_cli_ann_serving_mode(spark, tmp_path, capsys):
    """--ann-probes: probe parquet in -> top-k parquet out in one corpus
    pass, exact against a DuckDB brute-force oracle on the same tables."""
    from mysql2psql_spark.cli import main as cli_main

    probes_path = str(tmp_path / "probes.parquet")
    (
        spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        .filter("vec_id < 3")
        .selectExpr("vec_id AS probe_id", "embedding")
        .write.parquet(probes_path)
    )
    rc = cli_main(
        ["anndb", "--source", f"parquet:{SF_DIR}", "--out", str(tmp_path / "out"),
         "--ann-probes", probes_path, "--ann-topk", "2"]
    )
    assert rc == 0
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["ann_topk"] == {
        "probes_in": 3,
        "probes_matched": 3,
        "k": 2,
        "rows": 6,
        "out": str(tmp_path / "out" / "anndb" / "ann_topk.parquet"),
    }
    got = duckdb.sql(
        f"SELECT * FROM read_parquet('{summary['ann_topk']['out']}/*.parquet')"
        " ORDER BY probe_id, rnk"
    ).fetchall()
    want = duckdb.sql(f"""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                   FROM read_parquet('{SF_DIR}/embeddings.parquet')),
        scored AS (
          SELECT p.vec_id AS probe_id, e.vec_id,
                 ROUND(LIST_COSINE_SIMILARITY(e.v, p.v), 6) AS cos_sim
          FROM e CROSS JOIN (SELECT * FROM e WHERE vec_id < 3) p
          WHERE e.vec_id != p.vec_id)
        SELECT probe_id, vec_id, cos_sim, CAST(rnk AS INT) AS rnk
        FROM (SELECT *, ROW_NUMBER() OVER (
                PARTITION BY probe_id ORDER BY cos_sim DESC, vec_id) AS rnk
              FROM scored)
        WHERE rnk <= 2 ORDER BY probe_id, rnk
    """).fetchall()
    assert got == want


def test_cli_ann_probes_accepts_vec_id_column(spark, tmp_path, capsys):
    """--ann-probes falls back to `vec_id` when the probe parquet has no
    `probe_id` column (probes exported straight from an embeddings
    table)."""
    from mysql2psql_spark.cli import main as cli_main

    probes_path = str(tmp_path / "probes.parquet")
    (
        spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        .filter("vec_id = 0")
        .select("vec_id", "embedding")
        .write.parquet(probes_path)
    )
    rc = cli_main(
        ["anndb", "--source", f"parquet:{SF_DIR}", "--out", str(tmp_path / "out"),
         "--ann-probes", probes_path, "--ann-topk", "1",
         "--ann-out", str(tmp_path / "topk.parquet")]
    )
    assert rc == 0
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["ann_topk"]["rows"] == 1
    # the probe count must bind to the operator's fixed OUTPUT probe_id
    # column — with a vec_id-named probe file, F.col("vec_id") would bind
    # to the result's NEIGHBOR id column and count neighbors (ADVICE r9)
    assert summary["ann_topk"]["probes_in"] == 1
    assert summary["ann_topk"]["probes_matched"] == 1
    row = duckdb.sql(
        f"SELECT probe_id, vec_id, rnk FROM read_parquet('{tmp_path}/topk.parquet/*.parquet')"
    ).fetchall()[0]
    assert row[0] == 0 and row[1] != 0 and row[2] == 1


def test_cli_ann_zero_neighbor_probe_counts(spark, tmp_path, capsys):
    """A probe whose every candidate is self-excluded produces ZERO result
    rows but still counts as SERVED: probes_in reports the input batch,
    probes_matched the probes with >=1 neighbor (VERDICT r9 #6)."""
    from mysql2psql_spark.cli import main as cli_main

    src = tmp_path / "src"
    one = (
        spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        .filter("vec_id = 0")
        .select("vec_id", "embedding")
    )
    one.write.parquet(str(src / "embeddings.parquet"))
    probes_path = str(tmp_path / "probes.parquet")
    one.selectExpr("vec_id AS probe_id", "embedding").write.parquet(probes_path)
    rc = cli_main(
        ["anndb", "--source", f"parquet:{src}", "--out", str(tmp_path / "out"),
         "--ann-probes", probes_path, "--ann-topk", "3"]
    )
    assert rc == 0
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["ann_topk"]["probes_in"] == 1
    assert summary["ann_topk"]["probes_matched"] == 0
    assert summary["ann_topk"]["rows"] == 0
    # --ann-include-self flips the contract: the id-colliding corpus row
    # is a legitimate neighbor in a separate probe-id namespace (r9 flag)
    rc = cli_main(
        ["anndb", "--source", f"parquet:{src}", "--out", str(tmp_path / "out2"),
         "--ann-probes", probes_path, "--ann-topk", "3", "--ann-include-self"]
    )
    assert rc == 0
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["ann_topk"]["probes_matched"] == 1
    assert summary["ann_topk"]["rows"] == 1


def test_cli_ann_probes_rejects_bad_schema(spark, tmp_path):
    """A probe parquet without (probe_id|vec_id, embedding) must fail
    with a clear argparse error, not an opaque analyzer exception."""
    import pytest

    from mysql2psql_spark.cli import main as cli_main

    probes_path = str(tmp_path / "bad.parquet")
    spark.range(3).selectExpr("id AS foo").write.parquet(probes_path)
    with pytest.raises(SystemExit):
        cli_main(
            ["anndb", "--source", f"parquet:{SF_DIR}", "--out", str(tmp_path / "o"),
             "--ann-probes", probes_path]
        )


def test_cli_ann_duplicate_probe_rows_count_distinct(spark, tmp_path, capsys):
    """ADVICE r10: a probe file with duplicate probe_id rows must report
    probes_in as the DISTINCT id count — a row count would read
    probes_in > probes_matched and fake zero-neighbor probes."""
    from mysql2psql_spark.cli import main as cli_main

    probes_path = str(tmp_path / "probes_dup.parquet")
    base = (
        spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        .filter("vec_id < 2")
        .selectExpr("vec_id AS probe_id", "embedding")
    )
    base.union(base).write.parquet(probes_path)  # each probe twice
    rc = cli_main(
        ["anndb", "--source", f"parquet:{SF_DIR}", "--out", str(tmp_path / "out"),
         "--ann-probes", probes_path, "--ann-topk", "2"]
    )
    assert rc == 0
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["ann_topk"]["probes_in"] == 2
    assert summary["ann_topk"]["probes_matched"] == 2
