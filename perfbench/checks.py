"""Output checks: query results against their DuckDB oracle, and the
incremental destinations against the source rows delivered so far.

A query result matches its oracle when the row count, the set of column
names and an order-insensitive hash of the values agree.  Values are
canonicalized before hashing: every numeric becomes a float64 rounded to
6 decimals (engines differ in integer width and in the last bits of a
double), timestamps become integer microseconds, anything nested becomes
its string form.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os

import numpy as np
import pandas as pd
import pyarrow as pa


def _canon_column(col: pa.ChunkedArray) -> pd.Series:
    t = col.type
    if pa.types.is_integer(t) or pa.types.is_floating(t) or pa.types.is_decimal(t) or pa.types.is_boolean(t):
        x = col.cast(pa.float64()).to_numpy(zero_copy_only=False)
        return pd.Series(np.round(x, 6) + 0.0)  # + 0.0 folds -0.0 into 0.0
    if pa.types.is_timestamp(t):
        return pd.Series(col.cast(pa.timestamp("us")).cast(pa.int64()).to_numpy(zero_copy_only=False))
    if pa.types.is_date(t):
        return pd.Series(col.cast(pa.date32()).cast(pa.int32()).to_numpy(zero_copy_only=False))
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return pd.Series(col.to_pylist(), dtype=object)
    return pd.Series([json.dumps(v, default=str) for v in col.to_pylist()], dtype=object)


def value_hash(table: pa.Table) -> str:
    """Order-insensitive hash of the rows (columns in name order)."""
    if table.num_rows == 0:
        return "empty"
    names = sorted(table.column_names)
    frame = pd.DataFrame({n: _canon_column(table.column(n)) for n in names})
    rows = np.sort(pd.util.hash_pandas_object(frame, index=False).to_numpy())
    return hashlib.sha256(rows.tobytes()).hexdigest()[:16]


def compare(spark_result: pa.Table, oracle_result: pa.Table) -> str | None:
    """None when the results match, else a one-line reason."""
    if spark_result.num_rows != oracle_result.num_rows:
        return f"rows {spark_result.num_rows} != oracle {oracle_result.num_rows}"
    a, b = sorted(spark_result.column_names), sorted(oracle_result.column_names)
    if a != b:
        return f"columns {a} != oracle {b}"
    if value_hash(spark_result) != value_hash(oracle_result):
        return "value hash differs from oracle"
    return None


# ---- incremental destinations -----------------------------------------

def parquet_files(path: str) -> list[str]:
    """Data files under ``path``, skipping Spark's ``_SUCCESS``-style markers."""
    out = []
    for root, _dirs, names in os.walk(path):
        out += [
            os.path.join(root, n)
            for n in names
            if n.endswith(".parquet") and not n.startswith(("_", "."))
        ]
    return sorted(out)


def manifest_head(table_dir: str) -> tuple[list[str], str | None]:
    """Data files listed by a manifest table's head version, and the
    watermark of the newest version that recorded one."""
    mdir = os.path.join(table_dir, "_manifests")
    versions = sorted(n for n in os.listdir(mdir) if n.startswith("v") and n.endswith(".json"))
    if not versions:
        return [], None
    manifests = []
    for name in versions:
        with open(os.path.join(mdir, name)) as f:
            manifests.append(json.load(f))
    files = [f for d in manifests[-1]["dirs"] for f in parquet_files(os.path.join(table_dir, d))]
    last_point = next(
        (m["meta"]["last_point"] for m in reversed(manifests) if m["meta"].get("last_point") is not None),
        None,
    )
    return files, last_point


def check_destination(con, source_files: list[str], dest_files: list[str],
                      keys: list[str], column: str, watermark: str | None) -> str | None:
    """The destination holds exactly the distinct source keys delivered so
    far, no key twice, and the committed watermark is the maximum
    ``column`` of the delivered rows.  None when all hold."""
    if not dest_files:
        return "destination is empty"
    k = ", ".join(keys)
    src = f"read_parquet({source_files!r})"
    dst = f"read_parquet({dest_files!r})"
    n_dst, n_dst_keys = con.execute(f"SELECT count(*), count(DISTINCT ({k})) FROM {dst}").fetchone()
    if n_dst != n_dst_keys:
        return f"{n_dst - n_dst_keys} duplicate keys in destination"
    (n_src_keys,) = con.execute(f"SELECT count(DISTINCT ({k})) FROM {src}").fetchone()
    (n_common,) = con.execute(
        f"SELECT count(*) FROM (SELECT DISTINCT {k} FROM {src}) s JOIN (SELECT {k} FROM {dst}) d USING ({k})"
    ).fetchone()
    if not n_dst == n_src_keys == n_common:
        return f"destination has {n_dst} keys, source delivered {n_src_keys}, {n_common} in common"
    (expected,) = con.execute(f"SELECT max({column}) FROM {src}").fetchone()
    if watermark is None or str(expected) != _normalize_watermark(watermark, expected):
        return f"watermark {watermark!r} != max({column}) {expected!s}"
    return None


def _normalize_watermark(value: str, like) -> str:
    """The engine stores watermarks as ``str()`` of the value; render it
    the way DuckDB renders ``like`` so the two compare as strings."""
    if isinstance(like, int):
        return str(int(value))
    return str(dt.datetime.fromisoformat(value))
