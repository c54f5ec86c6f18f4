"""Seeded input generators for the migration workloads.

Every table is a single parquet file written as ONE row group (the layout
of the engine's TPC-H-style fixtures), so the same seed gives the same
bytes. The query mix generates nothing: it reads the fixture under
``fixture/``. Run as a script to generate one workload's inputs:

    python3 perfbench/gen.py <workload> <seed> <scale> <out_dir>

It prints one JSON object: the directory the workload reads, per table
its rows, bytes and row-group count, and the migration's schema changes.
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# Row counts per scale: "bench" for measurement, "tiny" for the smoke test.
SIZES = {
    "bench": {"bulk_rows": 150_000, "parent_rows": 2_000, "many_tables": 8, "many_rows": 5_000},
    "tiny": {"bulk_rows": 2_000, "parent_rows": 200, "many_tables": 3, "many_rows": 300},
}

# Strings the reference dump rules must survive: the quote char, the
# delimiter, the old NULL literal, the empty string (and real nulls).
_NOTES = np.array(
    ["O'Brien", "a,b", "NULL", "", "plain note", "it's, quoted", "x" * 40, "Zoë ünïcode"],
    dtype=object,
)
_TIMES = np.array(["08:30", "23:59", "12:00:00", "bad", "7:5", "00:00"], dtype=object)
_BLOBS = np.array([b"\x00\x01\x02", b"'", b"abc,def", b""], dtype=object)


def _nullify(rng: np.random.Generator, values: np.ndarray, frac: float) -> np.ndarray:
    out = values.astype(object)
    out[rng.random(len(values)) < frac] = None
    return out


def _ts(rng, n, frac_null):
    us = rng.integers(0, 1500 * 86_400_000_000, n)
    arr = pa.array(np.datetime64("2019-01-01", "us") + us.astype("timedelta64[us]"),
                   type=pa.timestamp("us"))
    mask = pa.array(rng.random(n) < frac_null)
    return pc.if_else(mask, pa.scalar(None, arr.type), arr)


def _date(rng, n, frac_null):
    days = rng.integers(0, 4000, n).astype("timedelta64[D]")
    arr = pa.array(np.datetime64("2010-01-01") + days, type=pa.date32())
    mask = pa.array(rng.random(n) < frac_null)
    return pc.if_else(mask, pa.scalar(None, pa.date32()), arr)


def _write(out_dir: str, name: str, table: pa.Table) -> dict:
    path = os.path.join(out_dir, f"{name}.parquet")
    pq.write_table(table, path, row_group_size=max(1, table.num_rows), compression="snappy")
    meta = pq.ParquetFile(path).metadata
    return {"rows": meta.num_rows, "bytes": os.path.getsize(path),
            "row_groups": meta.num_row_groups}


def _fact(rng, n: int, n_parent: int) -> pa.Table:
    """A table whose columns trigger every default dump rule once the
    schema changes below are applied: boolean, date and timestamp with
    nulls, binary, an FK holding zeros and orphans, TIME-like strings and
    strings holding quote/delimiter/NULL/empty/null values."""
    acct = rng.integers(1, n_parent + 1, n)
    acct[rng.random(n) < 0.02] = n_parent + 7  # orphans: _PRE_SQL_ deletes them
    referrer = rng.integers(1, n_parent + 1, n)
    referrer[rng.random(n) < 0.05] = 0  # "0 means no parent" -> NULL
    return pa.table({
        "id": pa.array(np.arange(1, n + 1, dtype=np.int64)),
        "acct_id": pa.array(acct.astype(np.int64)),
        "referrer_id": pa.array(referrer.astype(np.int64)),
        "is_active": pa.array(_nullify(rng, rng.random(n) < 0.5, 0.05), type=pa.bool_()),
        "booked_on": _date(rng, n, 0.05),
        "created_at": _ts(rng, n, 0.05),
        "amount": pa.array(np.round(rng.random(n) * 10_000, 2)),
        "qty": pa.array(rng.integers(0, 1000, n).astype(np.int32)),
        "note": pa.array(_nullify(rng, rng.choice(_NOTES, n), 0.05), type=pa.string()),
        "start_time": pa.array(_nullify(rng, rng.choice(_TIMES, n), 0.05), type=pa.string()),
        "receipt": pa.array(_nullify(rng, rng.choice(_BLOBS, n), 0.1), type=pa.binary()),
        "legacy_memo": pa.array(rng.choice(_NOTES, n), type=pa.string()),
    })


def _fact_changes(referrer_table: str) -> dict:
    return {
        "columns": {
            "referrer_id": {"reference": f"{referrer_table} (id)"},
            "booked_on": {"nullable": False},
            "start_time": {"type": "time"},
            "legacy_memo": "_SKIP_",
        },
    }


def gen_bulk(rng, size: dict, out_dir: str) -> tuple[dict, dict]:
    """One dominant fact table plus a small parent and a skipped table."""
    n, n_parent = size["bulk_rows"], size["parent_rows"]
    parent = pa.table({
        "id": pa.array(np.arange(1, n_parent + 1, dtype=np.int64)),
        "name": pa.array(_nullify(rng, rng.choice(_NOTES, n_parent), 0.05), type=pa.string()),
        "opened_on": _date(rng, n_parent, 0.0),
    })
    staging = pa.table({"id": pa.array(np.arange(10, dtype=np.int64))})
    inputs = {
        "account": _write(out_dir, "account", parent),
        "payment": _write(out_dir, "payment", _fact(rng, n, n_parent)),
        "staging": _write(out_dir, "staging", staging),
    }
    pay = _fact_changes("account")
    pay["name"] = "payments"
    pay["columns"]["acct_id"] = {"name": "account_id"}
    pay["_PRE_SQL_"] = [
        "DELETE FROM payment WHERE acct_id NOT IN (SELECT id FROM account)",
        "UPDATE payment SET created_at = created_at - INTERVAL 2 HOUR",
    ]
    changes = {"tables": {"payment": pay, "staging": "_SKIP_"}}
    return inputs, changes


def gen_many(rng, size: dict, out_dir: str) -> tuple[dict, dict]:
    """Many small tables with the fact column mix, chained by FKs."""
    k, n = size["many_tables"], size["many_rows"]
    names = [f"t{i:02d}" for i in range(k)]
    inputs, tables = {}, {}
    for i, name in enumerate(names):
        parent = names[i - 1] if i else name
        inputs[name] = _write(out_dir, name, _fact(rng, n, n))
        rule = _fact_changes(parent)
        if i % 4 == 1:
            rule["name"] = f"{name}_renamed"
        if i % 4 == 2:
            rule["_PRE_SQL_"] = [
                f"DELETE FROM {name} WHERE acct_id NOT IN (SELECT id FROM {parent})",
                f"UPDATE {name} SET created_at = created_at - INTERVAL 1 HOUR",
            ]
        tables[name] = rule
    return inputs, {"tables": tables}


def describe(data_dir: str) -> dict:
    """Rows, bytes and row groups of every parquet table in ``data_dir``."""
    out = {}
    for name in sorted(os.listdir(data_dir)):
        if name.endswith(".parquet"):
            meta = pq.ParquetFile(os.path.join(data_dir, name)).metadata
            out[name[:-8]] = {"rows": meta.num_rows,
                              "bytes": os.path.getsize(os.path.join(data_dir, name)),
                              "row_groups": meta.num_row_groups}
    return out


GENERATORS = {"migrate_bulk": gen_bulk, "migrate_many": gen_many}
# The query mix reads the engine's sf0.01 test fixture (TPC-H-style tables
# plus events, documents and embeddings; seed 42), copied here unchanged.
FIXTURE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixture", "sf0.01")


def generate(workload: str, seed: int, scale: str, out_dir: str) -> dict:
    """Write the workload's tables under ``out_dir``; return the directory
    the workload reads, its tables' sizes and the schema changes the
    migration applies. The query mix reads the fixture and writes nothing."""
    if workload not in GENERATORS:
        return {"dir": FIXTURE, "tables": describe(FIXTURE), "schema_changes": {}}
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, sorted(GENERATORS).index(workload)])
    inputs, changes = GENERATORS[workload](rng, SIZES[scale], out_dir)
    return {"dir": out_dir, "tables": inputs, "schema_changes": changes}


if __name__ == "__main__":
    workload, seed, scale, out = sys.argv[1], int(sys.argv[2]), sys.argv[3], sys.argv[4]
    print(json.dumps(generate(workload, seed, scale, out)))
