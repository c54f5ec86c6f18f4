"""The workloads: one repetition, its output check, and its layer metrics.

A repetition is one warm migration (``cli.migrate_db`` on freshly loaded
frames) or one pass over the query mix. ``rep`` returns the repetition's
wall time and the latency of each operation in it (a table written, or a
query built and run); an operation that raised or failed its check has
latency ``None``.
"""

from __future__ import annotations

import functools
import os
import random
import re
import shutil
import statistics
import sys
import time
import traceback
from dataclasses import dataclass

import duckdb
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from mysql2psql_spark import cli
from mysql2psql_spark import schema_ir as ir
from mysql2psql_spark.plans.migration import migrate_table, plan_migration
from mysql2psql_spark.queries import ORACLE, QUERIES
from mysql2psql_spark.sinks import csv_sink
from mysql2psql_spark.sources import parquet
from mysql2psql_spark.sources.csv_source import read_reference_csv

from spans import EventLog, Recorder, Span

# The query mix: registered queries with DuckDB oracle SQL, grouped by the
# registry module that defines them. dedup_q is represented by its
# mapInPandas query: the oracle of dedup_minhash_lsh (exact Jaccard over
# all document pairs) alone takes ~9 s, more than a run can spend on it.
QUERY_MIX = {
    "core": ["w1_topk_per_group"],
    "analytics_q": ["q03_shipping_priority"],
    "tpch_deep_q": ["q09_product_profit"],
    "migration_q": ["m4_cdc_apply"],
    "catalog_q": ["s7_dump_rewrite"],
    "dedup_q": ["multimodal_vad_spans"],
    "embedding_q": ["dedup_embedding_lsh"],
    "text_q": ["text_bm25"],
    "graph_q": ["graph_pagerank"],
    "events_q": ["stream_sessionize"],
}

_COPY_RE = re.compile(r"""^\\copy "([^"]+)" \((.*)\) FROM '([^']+)'""")


@dataclass
class Rep:
    span: Span
    ops: list[tuple[str, float | None]]


def _median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def _noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def fingerprints(frames: dict[str, tuple[DataFrame, T.StructType]]) -> dict[str, tuple[int, int]]:
    """Per name, the (row count, order-insensitive hash) of its frame read
    as its schema; one Spark job for all of them.

    Each value is cast to its target type and rendered as a string, and
    the empty string counts as null: the reference-dialect CSV reader
    folds a quoted '' to null, so that distinction cannot survive a
    Spark re-read (sources/csv_source.py)."""
    aggs = []
    for name, (df, schema) in frames.items():
        cols = []
        for f in schema.fields:
            c = F.col(f"`{f.name}`").cast(f.dataType).cast("string")
            cols.append(F.coalesce(F.when(c != "", c), F.lit("\u0001")))
        h = F.xxhash64(*cols).cast("decimal(38,0)")
        aggs.append(df.select(h.alias("h")).agg(
            F.lit(name).alias("t"), F.count("*").alias("n"), F.sum("h").alias("s")))
    rows = functools.reduce(DataFrame.unionAll, aggs).collect()
    return {r["t"]: (int(r["n"]), int(r["s"] or 0)) for r in rows}


def blank_counts(df: DataFrame, columns: list[str]) -> dict[str, tuple[int, int]]:
    """Per column of ``df``, its (null, empty-string) counts, plus ``rows``:
    what the CSV must hold as bare empty and as quoted '' fields."""
    aggs = [F.count("*")]
    for name in columns:
        c = F.col(f"`{name}`").cast("string")
        aggs += [F.count(F.when(c.isNull(), 1)), F.count(F.when(c == "", 1))]
    row = df.agg(*aggs).first()
    return {"rows": (row[0], 0), **{n: (row[1 + 2 * i], row[2 + 2 * i])
                                    for i, n in enumerate(columns)}}


def raw_blank_counts(paths: list[str], columns: list[str]) -> dict[str, tuple[int, int]]:
    """``blank_counts`` of CSV part files, parsed as raw text by DuckDB
    rather than Spark: a bare empty field reads as null and a quoted ''
    as the empty string (the distinction the Spark re-read folds)."""
    aggs = ["count(*), 0"]
    aggs += [f"""count(*) FILTER (WHERE "{n}" IS NULL), count(*) FILTER (WHERE "{n}" = '')"""
             for n in columns]
    types = ", ".join(f"'{n}': 'VARCHAR'" for n in columns)
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        row = con.execute(
            f"SELECT {', '.join(aggs)} FROM read_csv({paths!r}, columns={{{types}}}, "
            "delim=',', quote='''', escape='''', header=false, nullstr='', "
            "allow_quoted_nulls=false, auto_detect=false)"
        ).fetchone()
    finally:
        con.close()
    return dict(zip(["rows", *columns], zip(row[::2], row[1::2])))


def written_schema(table: dict) -> T.StructType:
    """The columns a table's CSV holds: its converted schema without the
    columns a schema change skipped (the \\copy line's column list)."""
    cols = {k: c for k, c in table["columns"].items() if not c.get("_SKIP_")}
    return ir.to_struct_type({**table, "columns": cols})


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    """Columns by name, rows sorted, nulls as None (the repo's oracle
    tests compare results the same way)."""
    df = df[sorted(df.columns)]
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].where(pd.notna(df[c]), None)
    return df.sort_values(by=list(df.columns), na_position="last").reset_index(drop=True)


def mismatch(columns: list[str], rows: list, want: pd.DataFrame) -> str | None:
    """How collected rows differ from the oracle's result, or None."""
    got = pd.DataFrame.from_records([tuple(r) for r in rows], columns=columns)
    if len(got) != len(want):
        return f"{len(got)} rows, oracle {len(want)}"
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)}, oracle {sorted(want.columns)}"
    try:
        pd.testing.assert_frame_equal(_normalize(got), _normalize(want),
                                      check_dtype=False, check_exact=True)
    except AssertionError as e:
        return "values differ: " + " ".join(str(e).split())[:300]
    return None


class Migration:
    """migrate_bulk / migrate_many: load every table, run ``cli.migrate_db``."""

    def __init__(self, spark, src: str, inputs: dict, work: str, rec: Recorder,
                 traced: bool, threads: int) -> None:
        self.spark, self.src, self.work, self.rec = spark, src, work, rec
        self.names = sorted(inputs["tables"])
        self.changes = inputs["schema_changes"]
        self.threads = threads
        self.expected: dict[str, tuple[tuple[int, int], dict]] | None = None
        self.reports: list[dict[str, float]] = []
        self.csv: list[tuple[int, int]] = []  # (part files, bytes) per checked rep
        table_of = lambda df, path, *a, **k: path.rstrip("/").rsplit("/", 1)[-1][:-4]  # noqa: E731
        # per-table latency is the time in write_reference_csv (scan, rules,
        # encode, commit of that table); recorded in every run
        rec.wrap(cli, "write_reference_csv", "sinks.write", table_of)
        if traced:
            rec.wrap(cli, "plan_migration", "plans.plan", lambda *a, **k: "")
            rec.wrap(cli, "migrate_table", "plans.build", lambda df, plan, key, **k: key)
            rec.wrap(parquet, "load_table", "sources.load", lambda spark, d, name, **k: name)

    def load(self) -> dict[str, DataFrame]:
        return {n: parquet.load_table(self.spark, self.src, n) for n in self.names}

    def rep(self, i: int) -> Rep:
        out = os.path.join(self.work, f"rep{i}")
        with self.rec.span("rep", str(i)) as span:
            try:
                report = cli.migrate_db(
                    self.spark, "db", self.load(), out, schema_changes=self.changes,
                    v1_schema="v1", threads=self.threads,
                )
            except Exception:
                traceback.print_exc(file=sys.stderr)
                report = {}
        self.reports.append(report)
        writes = {s.key: s.dur for s in self.rec.of("sinks.write", span)}
        return Rep(span, [(n, writes[n] if report else None) for n in sorted(writes)]
                   or [("<migration>", None)])

    def check(self, rep: Rep, deep: bool) -> Rep:
        """Drop the latency of every table whose output is wrong, then
        delete the repetition's artifact tree. Every repetition gets the
        artifact, manifest and raw-text CSV checks; a ``deep`` one also
        re-reads each CSV through Spark and compares its row count and
        hash."""
        out = os.path.join(self.work, f"rep{rep.span.key}")
        bad = set(self.wrong_tables(os.path.join(out, "db"), deep))
        shutil.rmtree(out, ignore_errors=True)
        ops = [(n, None if n in bad else lat) for n, lat in rep.ops]
        ops += [(n, None) for n in sorted(bad - {n for n, _ in rep.ops})]
        return Rep(rep.span, ops)

    def _plan(self):
        """Freshly loaded frames and the migration plan migrate_db builds."""
        frames = self.load()
        schema = ir.new_schema([ir.from_dataframe(n, df) for n, df in frames.items()])
        return frames, plan_migration(schema, schema_changes=self.changes)

    def _expected(self) -> dict[str, tuple[tuple[int, int], dict]]:
        """Per table, the fingerprint and the blank counts of its
        migrate_table frame: what its CSV must hold."""
        frames, plan = self._plan()
        outs = {
            table["name"]: (migrate_table(frames[key], plan, key, parents=frames),
                            written_schema(table))
            for key, table in plan.ir_converted["tables"].items()
        }
        prints = fingerprints(outs)
        return {n: (prints[n], blank_counts(df, schema.fieldNames()))
                for n, (df, schema) in outs.items()}

    def wrong_tables(self, base: str, deep: bool) -> list[str]:
        """Tables whose output is wrong: a missing artifact, a \\copy line
        naming no existing part file, a CSV whose raw text holds other
        counts of rows, nulls (bare empty fields) or empty strings (quoted
        '') per column than the migrate_table frame, or (``deep``) a CSV
        whose Spark re-read row count or hash differs from the frame."""
        if self.expected is None:
            self.expected = self._expected()
        for name in ("mysql_schema.json", "mysql_schema_v2.json", "psql_tables.sql",
                     "psql_index_fk.sql", "psql_views.sql"):
            if not os.path.isfile(os.path.join(base, name)):
                print(f"# missing artifact {name}", file=sys.stderr)
                return list(self.expected)
        with open(os.path.join(base, "psql_schema.json")) as fh:
            schema = ir.from_json(fh.read())
        with open(os.path.join(base, "psql_data.sql")) as fh:
            copies = [m.groups() for m in map(_COPY_RE.match, fh.read().splitlines()) if m]
        parts, columns = {}, {}
        for table, cols, path in copies:
            parts.setdefault(table, []).append(path)
            columns[table] = re.findall(r'"([^"]*)"', cols)
        self.csv.append((len(copies), sum(os.path.getsize(p) for *_, p in copies
                                          if os.path.isfile(p))))
        tables = {t["name"]: written_schema(t) for t in schema["tables"].values()}
        listed = {n for n in tables if n in parts and all(os.path.isfile(p) for p in parts[n])}
        bad = (set(tables) | set(self.expected)) - listed
        for n in sorted(listed):
            want = self.expected.get(n, (None, None))[1]
            try:
                got = raw_blank_counts(parts[n], columns[n])
            except Exception:
                traceback.print_exc(file=sys.stderr)
                got = None
            if got != want:
                print(f"# table {n}: CSV (rows, nulls/empties) {got}, frame {want}",
                      file=sys.stderr)
                bad.add(n)
        if deep:
            bad |= self.wrong_reread(base, tables, listed)
        for n in sorted(bad):
            print(f"# check failed for table {n}", file=sys.stderr)
        return sorted(bad)

    def wrong_reread(self, base: str, tables: dict, listed: set[str]) -> set[str]:
        """Tables whose CSV, re-read through read_reference_csv, has
        another row count or hash than the migrate_table frame."""
        # the generated values hold no newline, so the re-read may split
        # files (multi_line=False) instead of one task per file
        try:
            got = fingerprints({
                n: (read_reference_csv(self.spark, os.path.join(base, "tables", f"{n}.sql"),
                                       tables[n], multi_line=False), tables[n])
                for n in sorted(listed)
            }) if listed else {}
        except Exception:
            traceback.print_exc(file=sys.stderr)
            got = {}
        return {n for n in set(tables) | set(self.expected)
                if got.get(n) is None or got[n] != self.expected.get(n, (None,))[0]}

    def probe(self) -> None:
        """Sequential per-layer probes (traced runs only, after the timed
        repetitions): a noop write of each raw frame, a noop write of its
        migrate_table output, then write_reference_csv of that output."""
        frames, plan = self._plan()
        for key, table in plan.ir_converted["tables"].items():
            with self.rec.span("probe.scan", key):
                _noop(frames[key])
            out = migrate_table(frames[key], plan, key, parents=frames)
            with self.rec.span("probe.project", key):
                _noop(out)
            with self.rec.span("probe.csv", key):
                csv_sink.write_reference_csv(
                    out, os.path.join(self.work, "probe", f"{table['name']}.sql"), single_file=True
                )
        shutil.rmtree(os.path.join(self.work, "probe"), ignore_errors=True)

    def layers(self, reps: list[Rep], log: EventLog) -> dict[str, float]:
        rec = self.rec
        reports = self.reports[-len(reps):]

        def per_rep(name: str) -> float:
            return _median([sum(s.dur for s in rec.of(name, r.span)) for r in reps])

        def phase(*names: str) -> float:
            return _median([sum(r.get(n, 0.0) for n in names) for r in reports])

        def probe(name: str) -> float:
            return sum(s.dur for s in rec.of(name))

        def slowest_tasks(name: str, moved: str) -> float:
            """Tasks of the slowest table's probe that read (or wrote) any
            row: the parallelism that did the work. A single row group split
            in two gives two tasks, but only one of them reads rows."""
            spans = rec.of(name)
            if not spans:
                return 0.0
            tasks = log.tasks_in([max(spans, key=lambda s: s.dur)])
            return float(sum(t[moved] > 0 for t in tasks))

        concurrency = [
            sum(s.dur for s in rec.of("sinks.write", r.span) + rec.of("plans.build", r.span))
            / rep_report["data"]
            for r, rep_report in zip(reps, reports)
            if rep_report.get("data")
        ]
        # the fastest table of each repetition: the fixed cost of one table
        fastest = [min((s.dur for s in rec.of("sinks.write", r.span)), default=0.0) for r in reps]
        csv = self.csv[-len(reps):]
        return {
            "sources.load_s": per_rep("sources.load"),
            "sources.scan_s": probe("probe.scan"),
            "sources.scan_tasks": slowest_tasks("probe.scan", "input_rows"),
            "schema_ir.introspect_s": phase("introspect"),
            "plans.plan_s": per_rep("plans.plan"),
            "plans.build_s": per_rep("plans.build"),
            "rules.project_s": probe("probe.project") - probe("probe.scan"),
            "sinks.csv_write_s": per_rep("sinks.write"),
            "sinks.encode_s": probe("probe.csv") - probe("probe.project"),
            "sinks.write_tasks": slowest_tasks("probe.csv", "output_rows"),
            "sinks.part_files": _median([float(c[0]) for c in csv]),
            "sinks.csv_mb": _median([c[1] / 2**20 for c in csv]),
            "sinks.table_fixed_ms": 1000.0 * _median(fastest),
            "sinks.ddl_s": phase("ddl", "index_fk", "views"),
            "orchestration.data_s": phase("data"),
            "orchestration.concurrency": _median(concurrency),
        }


class QueryMix:
    """query_mix: every query of QUERY_MIX once per pass, in a seeded order;
    per query, build the frame and collect it."""

    def __init__(self, spark, src: str, seed: int, rec: Recorder, warmup: int) -> None:
        self.spark, self.src, self.seed, self.rec = spark, src, seed, rec
        self.warmup = warmup
        self.module = {q: m for m, qs in QUERY_MIX.items() for q in qs}
        self.got: dict[tuple[str, str], tuple[list[str], list]] = {}  # (pass, query) -> result
        self.want: dict[str, pd.DataFrame] | None = None

    def rep(self, i: int) -> Rep:
        # set-up passes keep the listed order, so set-up does not depend on
        # which query happens to meet the cold JVM; the seed permutes every
        # pass after them
        order = list(self.module)
        if i >= self.warmup:
            random.Random(self.seed * 1000 + i).shuffle(order)
        ops: list[tuple[str, float | None]] = []
        with self.rec.span("rep", str(i)) as span:
            for name in order:
                # each query starts from the same storage state (as bench.py)
                self.spark.catalog.clearCache()
                t0 = time.perf_counter()
                try:
                    with self.rec.span("query.build", name):
                        df = QUERIES[name](self.spark, self.src)
                    with self.rec.span("query.exec", name):
                        rows = df.collect()
                    ops.append((name, time.perf_counter() - t0))
                    self.got[(str(i), name)] = (df.columns, rows)
                except Exception:
                    traceback.print_exc(file=sys.stderr)
                    ops.append((name, None))
        return Rep(span, ops)

    def check(self, rep: Rep, deep: bool = True) -> Rep:
        """Drop the latency of every query whose result differs from DuckDB
        running its ORACLE SQL on the same parquet files: the same columns
        and, in any row order, exactly the same values."""
        if self.want is None:
            self.want = self.oracle()
        ops = []
        for name, lat in rep.ops:
            got = self.got.pop((rep.span.key, name), None)
            if lat is not None:
                why = mismatch(*got, self.want[name])
                if why:
                    print(f"# {name}: {why}", file=sys.stderr)
                    lat = None
            ops.append((name, lat))
        return Rep(rep.span, ops)

    def oracle(self) -> dict[str, pd.DataFrame]:
        con = duckdb.connect()
        try:
            for table in parquet.TABLES:
                path = os.path.join(self.src, f"{table}.parquet")
                con.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{path}')")
            return {name: con.execute(ORACLE[name]).df() for name in self.module}
        finally:
            con.close()

    def layers(self, reps: list[Rep], log: EventLog) -> dict[str, float]:
        out: dict[str, float] = {}
        for module in sorted(QUERY_MIX):
            for phase in ("build", "exec"):
                out[f"queries.{module}.{phase}_s"] = _median([
                    sum(s.dur for s in self.rec.of(f"query.{phase}", r.span)
                        if self.module.get(s.key) == module)
                    for r in reps
                ])
        builds = [s for r in reps for s in self.rec.of("query.build", r.span)]
        out["queries.eager_jobs"] = log.jobs_in(builds) / max(1, len(reps))
        return out
