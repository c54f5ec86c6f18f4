"""CLI: the reference's entry points, Spark-first.

Reference (README.md:10-17, main.py:163-190):
    python main.py <database> [table1 table2 ...]
    python main.py all-databases

Ours (same positional shape; source/sink selection is explicit because
the engine speaks both JDBC and Parquet):
    python -m mysql2psql_spark <database> [tables ...] \
        --source parquet:/path/to/dir | jdbc \
        --out ./output [--config parameters.json] \
        [--schema-changes schema_changes.json] [--v1-schema v1]

Produces the reference's artifact tree per database (README.md:58-64):
    <out>/<db>/mysql_schema.json        stage [1] checkpoint
    <out>/<db>/mysql_schema_v2.json     stage [2] checkpoint
    <out>/<db>/psql_schema.json         stage [3] checkpoint
    <out>/<db>/psql_tables.sql          stage [4] DDL
    <out>/<db>/tables/<t>.sql/          stage [5] per-table CSV data
    <out>/<db>/psql_data.sql            stage [5] \\copy manifest
    <out>/<db>/psql_index_fk.sql        stage [6] indexes + FKs + sequences
    <out>/<db>/psql_views.sql           stage [7] v1 compatibility views
    <out>/<db>/logs/<db>.log            per-phase wall times

parameters.json is accepted in the reference's exact format (mysql/psql
credentials feed the JDBC URLs; `threads` caps concurrent table jobs;
`v1_schema_name` switches stage [7] on). Rule files are accepted in the
reference's exact formats, including its sample files' trailing commas.

Engine-extension serving mode (no reference counterpart): --ann-probes
runs the batch-ANN pipeline stage instead of a migration — probe
vectors parquet in, exact top-k neighbors parquet out, one corpus pass
for the whole batch (operators/similarity.py::batch_topk).
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys
from typing import Any

from mysql2psql_spark import schema_ir as ir
from mysql2psql_spark.plans.migration import migrate_table, plan_migration
from mysql2psql_spark.plans.orchestration import PhaseTimer, run_concurrent
from mysql2psql_spark.sinks import write_reference_csv
from mysql2psql_spark.sinks import ddl as ddl_gen
from mysql2psql_spark.sources.parquet import input_bytes, scan_fanout


def load_json_lenient(path: str) -> dict[str, Any]:
    """json.load tolerating trailing commas (the reference's own
    schema_changes.json sample has one; strict json would refuse it)."""
    with open(path) as f:
        text = f.read()
    return json.loads(re.sub(r",(\s*[}\]])", r"\1", text))


def load_config(path: str | None) -> dict[str, Any]:
    if path is None:
        return {"threads": 0, "prefix": False, "v1_schema_name": False}
    return load_json_lenient(path)


def _parquet_tables(spark, src_dir: str, only: list[str]) -> dict[str, Any]:
    from mysql2psql_spark.sources.parquet import load_table

    names = sorted(
        f.removesuffix(".parquet") for f in os.listdir(src_dir) if f.endswith(".parquet")
    )
    if only:
        names = [n for n in names if n in only]
    # load_table (not raw spark.read.parquet): it normalizes quirks like
    # TIMESTAMP(NANOS) columns that need a runtime conf + conversion
    return {n: load_table(spark, src_dir, n) for n in names}


def _csv_tables(spark, artifact_dir: str, only: list[str]) -> dict[str, Any]:
    """Re-ingest a PREVIOUS RUN's artifact tree: the converted schema IR
    checkpoint (psql_schema.json, S11) provides the StructTypes — the
    loads are schema-first like the reference's \\copy — and each
    tables/<name>.sql directory holds that table's reference-dialect CSV
    (S8). This closes the lifecycle loop: extract -> dump -> re-ingest
    runs entirely on engine artifacts. The CSVs hold only the columns
    the migration kept, so skipped columns stay out of the StructType."""
    from mysql2psql_spark.sources.csv_source import read_reference_csv

    with open(os.path.join(artifact_dir, "psql_schema.json")) as f:
        schema = ir.from_json(f.read())
    frames: dict[str, Any] = {}
    for key, table in schema["tables"].items():
        if only and key not in only:
            continue
        path = os.path.join(artifact_dir, "tables", f"{table['name']}.sql")
        if not os.path.isdir(path):
            continue
        kept = {k: c for k, c in table["columns"].items() if not c.get("_SKIP_")}
        frames[key] = read_reference_csv(
            spark, path, ir.to_struct_type({**table, "columns": kept})
        )
    return frames


def migrate_db(
    spark,
    db: str,
    frames: dict[str, Any],
    out_dir: str,
    schema_changes: dict[str, Any] | None = None,
    v1_schema: str | None = None,
    threads: int = 0,
    incremental_col: str | None = None,
    watermarks: dict[str, Any] | None = None,
    bootstrap_creds: tuple[str, str] | None = None,
    export_jsonl: bool = False,
) -> dict[str, float]:
    """The §3.1 lifecycle for one database worth of DataFrames.

    Incremental mode (`incremental_col` set): the caller passes frames
    already filtered to the delta. Destructive DDL artifacts
    (DROP SCHEMA/TABLE CASCADE in psql_tables.sql, plus index/FK/view
    scripts) are emitted only on the BOOTSTRAP run — replaying a delta
    run's artifact tree must never wipe previously loaded data, so a
    delta run's tree is append-only (\\copy manifest + CSVs). New
    watermarks are computed from the WRITTEN CSVs (see
    plans/incremental.py on the live-source race) and merged into the
    `watermarks` dict in place."""
    base = os.path.join(out_dir, db)
    os.makedirs(os.path.join(base, "tables"), exist_ok=True)
    os.makedirs(os.path.join(base, "logs"), exist_ok=True)
    # bootstrap = first run into this artifact tree (no DDL yet)
    emit_ddl = incremental_col is None or not os.path.exists(
        os.path.join(base, "psql_tables.sql")
    )
    timer = PhaseTimer()

    with timer.phase("introspect"):
        schema = ir.new_schema([ir.from_dataframe(n, df) for n, df in frames.items()])
        _checkpoint(base, "mysql_schema.json", schema)

    with timer.phase("plan"):
        plan = plan_migration(schema, schema_changes=schema_changes or {})
        _checkpoint(base, "mysql_schema_v2.json", plan.ir_rewritten)
        _checkpoint(base, "psql_schema.json", plan.ir_converted)

    if emit_ddl:
        with timer.phase("ddl"):
            lines = ddl_gen.schema_preamble(v1_schema)
            for table in plan.ir_converted["tables"].values():
                lines.append(ddl_gen.drop_table_ddl(table))
                lines.append(ddl_gen.create_table_ddl(table))
            _write(base, "psql_tables.sql", "\n".join(lines) + "\n")

    with timer.phase("data"):
        manifest: dict[str, str] = {}
        keys = [k for k in plan.ir_converted["tables"] if k in frames]
        # Tables already run side by side (run_concurrent), so only a table
        # holding at least 1/width of the migration's input bytes leaves
        # cores idle while it runs alone; spreading the others only adds
        # exchange work and cold-JVM codegen (sf0.1 CLI, 10 tables, 4 vCPU,
        # median of 4 interleaved cold runs of the data phase: 7.8 s
        # unspread, 9.0 s with every table in the byte gate spread, 7.7 s
        # with only lineitem spread; warm, in one session: 3.5 s unspread,
        # 2.5 s with only lineitem spread).
        sizes = {k: input_bytes(frames[k]) for k in keys}
        total = sum(b for b in sizes.values() if b)
        width = spark.sparkContext.defaultParallelism

        def dump(key: str):
            table = plan.ir_converted["tables"][key]
            # A single-row-group source scans in one task, and so would
            # its rules and CSV encode: spread the raw rows BEFORE the
            # rules (spreading migrate_table's output measured no faster
            # than one task: the rules then still run serially), then
            # write one part file per task.
            src = frames[key]
            if sizes[key] is not None and sizes[key] * width >= total:
                src = scan_fanout(spark, src, sizes[key])
            out = migrate_table(src, plan, key, parents=frames)
            if export_jsonl:
                # dual-sink: persist the transformed frame so the CSV and
                # JSONL writes consume ONE computation (without it the
                # second write re-runs the whole source scan + transform
                # per table); freed once both sinks finish — in a finally
                # so a failed write can't leak the cache entry for the
                # rest of the session
                out = out.persist()
                try:
                    path = os.path.join(base, "tables", f"{table['name']}.sql")
                    manifest[key] = write_reference_csv(out, path)
                    # sibling JSONL export of the SAME transformed frame
                    # (sources/jsonl.py documents why a corpus pipeline
                    # wants it next to the \copy CSV)
                    from mysql2psql_spark.sources.jsonl import write_jsonl

                    write_jsonl(out, os.path.join(base, "jsonl", table["name"]))
                finally:
                    out.unpersist(False)
            else:
                path = os.path.join(base, "tables", f"{table['name']}.sql")
                manifest[key] = write_reference_csv(out, path)

        jobs = [(k, (lambda k=k: dump(k))) for k in keys]
        run_concurrent(spark, jobs, max_parallel=threads or 4)
        copy_lines = (
            ddl_gen.load_preamble()
            + [manifest[k] for k in plan.ir_converted["tables"] if k in manifest]
            + ddl_gen.load_epilogue()
        )
        _write(base, "psql_data.sql", "\n".join(copy_lines) + "\n")

    if incremental_col is not None and watermarks is not None:
        with timer.phase("watermarks"):
            from mysql2psql_spark.plans.incremental import (
                advance_watermark,
                watermark_from_csv,
            )

            for key, table in plan.ir_converted["tables"].items():
                col = table["columns"].get(incremental_col)
                if key not in frames or col is None or col.get("_SKIP_"):
                    continue
                kept = [c["name"] for c in table["columns"].values() if not c.get("_SKIP_")]
                written = watermark_from_csv(
                    spark,
                    os.path.join(base, "tables", f"{table['name']}.sql"),
                    kept,
                    col["name"],
                    ir.spark_type_for(col),
                )
                watermarks.update(
                    advance_watermark(written, key, col["name"], watermarks)
                )

    if emit_ddl:
        with timer.phase("index_fk"):
            lines = []
            for table in plan.ir_converted["tables"].values():
                lines.extend(ddl_gen.sequence_ddl(table))
                lines.extend(ddl_gen.create_index_ddl(table))
                lines.extend(ddl_gen.fk_constraint_ddl(table))
            _write(base, "psql_index_fk.sql", "\n".join(lines) + "\n")

    if bootstrap_creds is not None and emit_ddl:
        # D9 (reference generate_sql_user, PsqlParser.py:43-48): emitted
        # even when the credential set resolves to "" (root/empty), like
        # the reference's unconditional open/write
        with timer.phase("users"):
            user, password = bootstrap_creds
            _write(
                base,
                "psql_users.sql",
                ddl_gen.user_bootstrap_sql(
                    user, password, f"client_{db}", v1_schema=v1_schema or "v1"
                ),
            )

    if v1_schema and emit_ddl:
        with timer.phase("views"):
            lines = [
                ddl_gen.view_ddl(orig, table, v1_schema)
                for orig, table in plan.ir_converted["tables"].items()
            ]
            _write(base, "psql_views.sql", "\n".join(lines) + "\n")

    report = timer.report()
    _write(
        base,
        os.path.join("logs", f"{db}.log"),
        "".join(f"{phase} took {secs}s\n" for phase, secs in report.items()),
    )
    return report


def _checkpoint(base: str, name: str, schema: Any) -> None:
    _write(base, name, ir.to_json(schema))


def _write(base: str, name: str, content: str) -> None:
    with open(os.path.join(base, name), "w") as f:
        f.write(content)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="mysql2psql_spark", description=__doc__.split("\n")[0])
    p.add_argument("database", help="database name (parquet: the run label)")
    p.add_argument("tables", nargs="*", help="optional table subset")
    p.add_argument(
        "--source",
        required=True,
        help="parquet:<dir>, csv:<artifact-dir> (re-ingest a previous "
        "run's psql_schema.json + tables/*.sql CSV dumps), or jdbc",
    )
    p.add_argument("--out", default="./output")
    p.add_argument("--config", default=None, help="parameters.json (reference format)")
    p.add_argument("--schema-changes", default=None, help="schema_changes.json (reference format)")
    p.add_argument("--v1-schema", default=None, help="emit v1 compatibility views")
    p.add_argument(
        "--from-dump",
        default=None,
        metavar="DUMP_FILE",
        help="S7 dump mode (reference generate_dump_from_mysql_dump): "
        "convert a mysqldump SQL text file into <out>/<db>/psql_dump.sql "
        "applying --schema-changes renames/skips; no live source is read",
    )
    p.add_argument(
        "--bootstrap-user",
        default=None,
        metavar="IDENTIFIER",
        help="emit psql_users.sql (D9 user/grant bootstrap): credentials "
        "come from an S6 point lookup on a `client_db` table among the "
        "source tables (login/pass WHERE identifier=IDENTIFIER, the "
        "reference's get_user_user_pass), else from config['client_db']",
    )
    p.add_argument(
        "--export-jsonl",
        action="store_true",
        help="also write each migrated table as JSONL under "
        "<out>/<db>/jsonl/<table>/ (line-delimited, splittable — the "
        "training-corpus interchange export)",
    )
    p.add_argument(
        "--ann-probes",
        default=None,
        metavar="PROBES_PARQUET",
        help="batch-ANN serving mode: read probe vectors (probe_id|vec_id "
        "+ embedding) from this parquet, score them against the source's "
        "embeddings table in ONE corpus pass, write (probe_id, vec_id, "
        "cos_sim, rnk) parquet to --ann-out; no migration runs",
    )
    p.add_argument(
        "--ann-topk", type=int, default=3, metavar="K",
        help="neighbors per probe in --ann-probes mode (default 3)",
    )
    p.add_argument(
        "--ann-include-self",
        action="store_true",
        help="in --ann-probes mode, keep corpus rows whose vec_id equals "
        "the probe's id (exclude_self=False): REQUIRED when probe ids "
        "live in a separate id namespace from corpus vec_ids, where the "
        "default self-exclusion would silently drop the corpus row that "
        "happens to share the number — possibly the true rank-1 neighbor",
    )
    p.add_argument(
        "--ann-out",
        default=None,
        metavar="DIR",
        help="output parquet dir for --ann-probes mode "
        "(default <out>/<db>/ann_topk.parquet)",
    )
    p.add_argument(
        "--incremental",
        default=None,
        metavar="CURSOR_COL",
        help="high-watermark column: extract only rows above the watermark "
        "persisted in <out>/<db>/watermarks.json (tables lacking the column "
        "run full)",
    )
    args = p.parse_args(argv)

    config = load_config(args.config)
    changes = load_json_lenient(args.schema_changes) if args.schema_changes else None
    v1 = args.v1_schema or (config.get("v1_schema_name") or None)

    from mysql2psql_spark.session import get_spark

    spark = get_spark(app_name=f"mysql2psql_spark_{args.database}")

    def frames_for(db: str) -> dict[str, Any]:
        if args.source.startswith("parquet:"):
            src = args.source.removeprefix("parquet:")
            if args.database == "all-databases":
                src = os.path.join(src, db)
            return _parquet_tables(spark, src, args.tables)
        if args.source.startswith("csv:"):
            src = args.source.removeprefix("csv:")
            if args.database == "all-databases":
                src = os.path.join(src, db)
            return _csv_tables(spark, src, args.tables)
        if args.source == "jdbc":
            from mysql2psql_spark.sources.jdbc import read_tables

            return read_tables(spark, config, db, args.tables)
        p.error(f"unknown --source {args.source}")

    if args.ann_probes:
        # batch-ANN serving as a pipeline stage: probe parquet in ->
        # top-k parquet out, one corpus pass for the whole batch
        # (operators/similarity.py::batch_topk — the sim_batch_topk
        # shape). Standalone like --from-dump: no migration runs.
        from mysql2psql_spark.operators.similarity import batch_topk
        from mysql2psql_spark.sources.parquet import load_table

        if not args.source.startswith("parquet:"):
            p.error("--ann-probes requires --source parquet:<dir>")
        src = args.source.removeprefix("parquet:")
        emb = load_table(spark, src, "embeddings")
        probes = spark.read.parquet(args.ann_probes)
        probe_id = "probe_id" if "probe_id" in probes.columns else "vec_id"
        if probe_id not in probes.columns or "embedding" not in probes.columns:
            p.error(
                f"--ann-probes parquet must have (probe_id|vec_id, embedding) "
                f"columns; found {probes.columns}"
            )
        out_path = args.ann_out or os.path.join(
            args.out, args.database, "ann_topk.parquet"
        )
        result = batch_topk(
            emb,
            probes,
            k=args.ann_topk,
            probe_id_col=probe_id,
            # by default probe ids are interpreted in the corpus id
            # space: a probe re-submitted from the corpus must not
            # return itself; --ann-include-self switches to the
            # separate-namespace contract (operator docstring)
            exclude_self=not args.ann_include_self,
        )
        # Serving + summary: persist the top-k frame, let the write job
        # compute-and-cache it, then take the result-side counts from
        # the cache in one tiny aggregation. probes_in deliberately
        # costs ONE extra small job over the probe file (ADVICE r10:
        # the r9 comment here claimed single-pass while the code ran
        # it — the input size is simply not derivable from the result,
        # which only contains probes with >= 1 surviving neighbor).
        from pyspark.sql import functions as F
        from pyspark.storagelevel import StorageLevel

        result = result.persist(StorageLevel.MEMORY_AND_DISK)
        try:
            result.write.mode("overwrite").parquet(out_path)
            # two distinct serving-log facts (ADVICE r9): probes_in is the
            # number of DISTINCT probe ids submitted (distinct, not row
            # count — a probe file with duplicate ids must not report
            # probes_in > probes_matched and fake zero-neighbor probes,
            # ADVICE r10; a probe with ZERO surviving neighbors — e.g. a
            # self-excluded singleton — still counts as served);
            # probes_matched is how many produced >=1 result row. The
            # aggregate binds to the operator's FIXED output column
            # 'probe_id', never the input column name — with a vec_id-named
            # probe file the old F.col(probe_id) bound to the result's
            # NEIGHBOR id column and silently counted neighbors.
            counts = result.agg(
                F.count("*").alias("rows"),
                F.count_distinct(F.col("probe_id")).alias("probes_matched"),
            ).collect()[0]
            print(
                json.dumps(
                    {
                        "ann_topk": {
                            "probes_in": probes.select(probe_id).distinct().count(),
                            "probes_matched": counts["probes_matched"],
                            "k": args.ann_topk,
                            "rows": counts["rows"],
                            "out": out_path,
                        }
                    }
                )
            )
        finally:
            result.unpersist()
        return 0

    if args.from_dump:
        # S7: the deprecated dump-file mode is a standalone conversion —
        # no live source, no extraction pipeline (PsqlParser.py:73-98)
        from mysql2psql_spark.sources.dump_file import convert_dump_file

        base = os.path.join(args.out, args.database)
        os.makedirs(base, exist_ok=True)
        n = convert_dump_file(
            spark, args.from_dump, os.path.join(base, "psql_dump.sql"), changes
        )
        print(json.dumps({"databases": {args.database: {"insert_lines": n}}}))
        return 0

    if args.database == "all-databases":
        # reference entry point 2 (main.py:118-123,167): every database,
        # optional name prefix from config, each through the same pipeline.
        # The reference forks a process per db; here they share one Spark
        # session and the cluster scheduler interleaves their jobs.
        if args.source.startswith("parquet:"):
            root = args.source.removeprefix("parquet:")
            dbs = sorted(d for d in os.listdir(root) if os.path.isdir(os.path.join(root, d)))
        else:
            from mysql2psql_spark.sources.jdbc import list_databases, mysql_url

            url, props = mysql_url(config)
            dbs = list_databases(spark, url, props, prefix=config.get("prefix") or None)
    else:
        dbs = [args.database]

    def bootstrap_creds_for(frames: dict[str, Any]) -> tuple[str, str] | None:
        """S6 credentials path (MysqlParser.get_user_user_pass:262-274):
        point lookup by identifier, fetchone -> (login, pass)."""
        if not args.bootstrap_user:
            return None
        if "client_db" in frames:
            from pyspark.sql import functions as F

            row = (
                frames["client_db"]
                .filter(F.col("identifier") == args.bootstrap_user)
                .select("login", "pass")
                .head()
            )
            return (None, None) if row is None else (row["login"], row["pass"])
        cfg = config.get("client_db", {}).get(args.bootstrap_user, {})
        return (cfg.get("login"), cfg.get("pass"))

    reports = {}
    for db in dbs:
        frames = frames_for(db)
        new_marks = None
        if args.incremental:
            from mysql2psql_spark.plans.incremental import (
                incremental_scan,
                load_watermarks,
                save_watermarks,
            )

            state = os.path.join(args.out, db, "watermarks.json")
            marks = load_watermarks(state)
            new_marks = dict(marks)
            for name, df in list(frames.items()):
                if args.incremental in df.columns:
                    frames[name] = incremental_scan(df, name, args.incremental, marks)
        reports[db] = migrate_db(
            spark,
            db,
            frames,
            args.out,
            schema_changes=changes,
            v1_schema=v1,
            threads=int(config.get("threads") or 0),
            incremental_col=args.incremental,
            watermarks=new_marks,
            bootstrap_creds=bootstrap_creds_for(frames),
            export_jsonl=args.export_jsonl,
        )
        if args.incremental:
            save_watermarks(state, new_marks)
    print(json.dumps({"databases": reports}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
