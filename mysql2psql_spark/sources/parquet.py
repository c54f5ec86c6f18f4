"""Parquet source for the driver testdata catalog.

Full-table scan parity with the reference's ``get_table_raw_data``
(/root/reference/libs/MysqlParser.py:104-137), except the scan is columnar,
partitioned, and Catalyst pushes projections and predicates into the
Parquet reader (the reference hand-builds its SELECT list for the same
effect — SURVEY.md §4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


# Session-scoped schema cache: footer inference costs ~80 ms per
# spark.read.parquet on this host while a schema-pinned read costs ~14
# (measured r15, 30-call A/B at sf0.1) — and EVERY query calls
# load_table 1-10 times, so inference was ~0.7 s of every catalog-class
# query and a steady tax on all 208. This is the catalog-metadata cache
# every production engine keeps (a real deployment reads the schema
# from the metastore, not the file footer, on every query). Keyed by
# (applicationId, path, mtime): a new session re-infers, a rewritten
# local path (the probe/test overwrite pattern) re-infers via mtime;
# non-local paths (no statable mtime) skip the cache entirely.
# mtime is the MAX over the path, its entries, and one level of
# subdirectory entries (r16/r17, ADVICE): POSIX directory mtime only
# moves on entry add/remove, so an in-place rewrite of a part file
# inside a parquet directory (flat or single-key hive-partitioned)
# would otherwise serve a stale schema; deeper nesting skips the cache. Bounded LRU so a long session scanning many
# paths cannot grow the dict without limit.
from collections import OrderedDict as _OrderedDict

_SCHEMA_CACHE: _OrderedDict[tuple[str, str, float], object] = _OrderedDict()
_SCHEMA_CACHE_MAX = 256


def path_stat(path: str) -> tuple[float, int]:
    """(newest mtime, total data bytes) among ``path`` and (for a
    directory) its entries, recursing one level into subdirectories —
    the footer files whose in-place rewrite must invalidate the schema
    cache, and the bytes the fan-out gate and size-derived widths read.
    Hive-partitioned layouts put part files one level down
    (``key=value/`` subdirs); deeper nesting (multi-key partitioning)
    raises OSError so the caller skips the cache rather than ever
    serving a stale schema (r17, ADVICE)."""
    import os

    st = os.stat(path)
    mt = st.st_mtime
    nbytes = 0 if os.path.isdir(path) else st.st_size
    if os.path.isdir(path):
        # Any OSError here (vanishing entry mid-rewrite, nested dirs)
        # propagates: the caller treats it as "skip the cache", which
        # can never serve a stale schema.
        with os.scandir(path) as it:
            for e in it:
                est = e.stat()
                mt = max(mt, est.st_mtime)
                if e.is_dir(follow_symlinks=False):
                    with os.scandir(e.path) as sub:
                        for f in sub:
                            if f.is_dir(follow_symlinks=False):
                                raise OSError(
                                    f"nested partition dirs under {path}:"
                                    " schema cache skipped"
                                )
                            fst = f.stat()
                            mt = max(mt, fst.st_mtime)
                            nbytes += fst.st_size
                else:
                    nbytes += est.st_size
    return mt, nbytes


# Scale-adaptive scan fan-out (optimization guide §2.5 "input skew: one
# huge unsplittable file ... repartition immediately after the read"):
# a parquet scan cannot split below one row group, so a table written
# as few large row groups reaches the executors as a handful of map
# tasks no matter how many cores the cluster has — on this fixture
# EVERY table is a single row group, so every query's map side (parquet
# decode, exploded n-gram/shingle fan-out, partial aggregation) ran on
# ONE core of 32 (measured: the langid gram pipeline spent its first
# 2-3 s in a 1-task stage). Fan the scan out to cluster width when the
# table's on-disk bytes guarantee the scan is narrower than the
# cluster: at or below _FANOUT_MAX_BYTES the scan is at most a couple
# of splits by construction (maxPartitionBytes is 128 MB), and the
# exchange moves at most that many bytes — orders of magnitude cheaper
# than leaving the map side serial. Above the cap the scan is naturally
# wide (a 100 TB table never repartitions here); below _FANOUT_MIN_BYTES
# the table is dimension-sized and spreading it buys nothing (exchange
# latency would tax every tiny-table query). Both bounds are byte
# thresholds on the INPUT, not tuned core counts: width always tracks
# sparkContext.defaultParallelism.
#
# The exchange HASHES the fixed-width columns rather than round-robin:
# a round-robin repartition first sorts every row of each map task
# (spark.sql.execution.sortBeforeRepartition, so a retried task
# reproduces the same row-to-partition assignment), and on one
# unsplittable row group that sort runs serially before any spreading.
# A hash assignment is deterministic by itself. Hashing the numeric,
# boolean, date and timestamp columns together spreads as evenly as a
# row id would whenever any of them is near-unique, and skips hashing
# long strings (measured: migrate_table -> write_reference_csv of a
# 150k-row single-row-group table, 4 vCPU, median of 10 interleaved
# reps: one task 1.25 s, round-robin 1.09, hash on the id 0.94, hash on
# the fixed-width columns 0.98). A table with no fixed-width column hashes
# every column whose type can be hashed (maps cannot).
#
# OPT-IN per call site, not blanket (r17 A/B, 15-query 5-rep
# interleaved, count protocol): the explode/codec-heavy pipelines win
# big (langid 4.68 -> 2.32 s, vad spans 3.30 -> 1.98, minhash 2.10 ->
# 1.42, m8 2.25 -> 1.69) but scan->join/agg shapes whose map side is
# already cheap PAY the exchange for nothing (q01 0.26 -> 0.60, q03
# 0.46 -> 1.03, q09 0.51 -> 1.45, s4 0.12 -> 0.23, w3 0.10 -> 0.21):
# the fan-out only pays where per-row downstream work dwarfs the
# shuffle of the raw bytes, which is a property of the CONSUMER, so
# the consumer declares it (load_table(fanout=True), and the CLI's
# data phase, whose rules and CSV encode are per-row work).
_FANOUT_MIN_BYTES = 256 * 1024
_FANOUT_MAX_BYTES = 64 * 1024 * 1024
_FIXED_WIDTH = (T.NumericType, T.BooleanType, T.DateType, T.TimestampType, T.TimestampNTZType)


def _hashable(dt: T.DataType) -> bool:
    if isinstance(dt, T.MapType):
        return False
    if isinstance(dt, T.ArrayType):
        return _hashable(dt.elementType)
    if isinstance(dt, T.StructType):
        return all(_hashable(f.dataType) for f in dt.fields)
    return True


def scan_fanout(spark: SparkSession, df: DataFrame, nbytes: int | None) -> DataFrame:
    """Spread ``df`` to cluster width by a hash exchange when its input
    is ``nbytes`` on disk within the fan-out byte gate and the cluster
    is wider than two slots; otherwise return it unchanged."""
    if nbytes is None or not (_FANOUT_MIN_BYTES <= nbytes <= _FANOUT_MAX_BYTES):
        return df
    width = spark.sparkContext.defaultParallelism
    if width <= 2:
        return df
    fields = df.schema.fields
    keys = [f.name for f in fields if isinstance(f.dataType, _FIXED_WIDTH)] or [
        f.name for f in fields if _hashable(f.dataType)
    ]
    return df.repartition(width, *keys)  # no hashable column: round-robin


def input_bytes(df: DataFrame) -> int | None:
    """On-disk bytes of the local files ``df`` scans, from its file
    listing (``inputFiles()``: URIs, percent-encoded; no Spark job).
    None when it scans no file (JDBC, ``createDataFrame``) or any of
    them is not a statable local file."""
    from urllib.parse import unquote, urlparse

    files = df.inputFiles()
    if not files:
        return None
    total = 0
    for f in files:
        uri = urlparse(f)
        if uri.scheme not in ("", "file"):
            return None
        try:
            total += path_stat(unquote(uri.path))[1]
        except OSError:
            return None
    return total


def load_table(
    spark: SparkSession, sf_dir: str, name: str, fanout: bool = False
) -> DataFrame:
    """Scan one table. Column pruning / filter pushdown is Catalyst's job —
    callers express the plan declaratively and the physical Parquet scan
    reads only what the plan needs.

    ``fanout=True`` declares that the caller's per-row work (exploded
    n-grams/shingles, byte-level codecs) dwarfs the cost of moving the
    raw rows once, so a scan narrower than the cluster should be
    spread to cluster width (see ``scan_fanout`` — a no-op whenever the
    table's bytes already make the scan wide).

    `events.ts` is TIMESTAMP(NANOS) parquet, which Spark 4 only reads via
    the nanosAsLong legacy conf; we normalize it back to TimestampType
    (microsecond precision — every engine query orders/buckets with an
    explicit unique tie-break, so the ns truncation is semantics-free).
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = f"{sf_dir}/{name}.parquet"
    key = None
    nbytes = None
    try:
        mtime, nbytes = path_stat(path)
        key = (spark.sparkContext.applicationId, path, mtime)
    except OSError:
        pass  # non-local / non-statable path: no caching
    schema = _SCHEMA_CACHE.get(key) if key is not None else None
    if schema is not None:
        _SCHEMA_CACHE.move_to_end(key)
        df = spark.read.schema(schema).parquet(path)
    else:
        df = spark.read.parquet(path)
        if key is not None:
            _SCHEMA_CACHE[key] = df.schema
            while len(_SCHEMA_CACHE) > _SCHEMA_CACHE_MAX:
                _SCHEMA_CACHE.popitem(last=False)
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # integer division: ns epochs overflow double precision
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return scan_fanout(spark, df, nbytes) if fanout else df


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in (names or TABLES)}


def register_views(spark: SparkSession, sf_dir: str, *names: str) -> None:
    """Register temp views so operators can be written in SQL when clearer."""
    for n, df in load_tables(spark, sf_dir, *names).items():
        df.createOrReplaceTempView(n)
