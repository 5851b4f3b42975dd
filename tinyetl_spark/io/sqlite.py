"""Embedded SQLite source/sink.

There is no sqlite JDBC driver jar in this environment, and SQLite is a
single-writer embedded database anyway — parallel executor writes would
serialize on the file lock. So this connector is deliberately
DRIVER-SIDE (SURVEY.md §7.4): reads stream in bounded chunks into Arrow
→ Spark; writes stream Arrow record batches (:mod:`.arrow_stream`) into
chunked multi-row INSERTs. Rows cross the driver one partition at a
time, never all at once. For a server-grade parallel path use the JDBC
connectors.

Writes are bind-ready before they leave Spark: one projection in the
plan renders every column as the value sqlite3 binds (timestamps as
RFC3339 text in the session time zone, dates as ``yyyy-MM-dd``,
booleans as 0/1, decimals as doubles, nested values as JSON text). The
driver turns each batch column into Python values in one numpy pass,
zips the columns into rows and slices them into full-width INSERTs.

Parity with the reference (src/connectors/sqlite.rs):
* schema from ``PRAGMA table_info`` (sqlite.rs:76-101)
* auto-DDL ``CREATE TABLE IF NOT EXISTS`` with the same type map
  (sqlite.rs:256-267): string→TEXT, integer→INTEGER, decimal→REAL,
  boolean→INTEGER, date/datetime→TEXT, json→TEXT
* multi-row INSERT chunked to ≤900 bind variables (sqlite.rs:355-358)
* truncate = ``DELETE FROM`` (sqlite.rs:427-434); append supported
"""

from __future__ import annotations

import os
import sqlite3
from itertools import chain, islice

import pyarrow as pa
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tinyetl_spark.io.arrow_stream import iter_batches

MAX_BIND_VARS = 900

_SPARK_TO_SQLITE = [
    (T.StringType, "TEXT"),
    (T.LongType, "INTEGER"),
    (T.IntegerType, "INTEGER"),
    (T.ShortType, "INTEGER"),
    (T.ByteType, "INTEGER"),
    (T.BooleanType, "INTEGER"),
    (T.DoubleType, "REAL"),
    (T.FloatType, "REAL"),
    (T.DecimalType, "REAL"),
    (T.TimestampType, "TEXT"),
    (T.TimestampNTZType, "TEXT"),
    (T.DateType, "TEXT"),
    (T.BinaryType, "BLOB"),
]

_SQLITE_TO_SPARK = {
    "INTEGER": T.LongType(),
    "INT": T.LongType(),
    "BIGINT": T.LongType(),
    "REAL": T.DoubleType(),
    "FLOAT": T.DoubleType(),
    "DOUBLE": T.DoubleType(),
    "NUMERIC": T.DoubleType(),
    "BLOB": T.BinaryType(),
}


def _sqlite_type(dt: T.DataType) -> str:
    for cls, name in _SPARK_TO_SQLITE:
        if isinstance(dt, cls):
            return name
    return "TEXT"


def table_exists(db_path: str, table: str) -> bool:
    if not os.path.exists(db_path):
        return False
    with sqlite3.connect(db_path) as con:
        row = con.execute(
            "SELECT name FROM sqlite_master WHERE type='table' AND name=?", (table,)
        ).fetchone()
    return row is not None


def read_table(
    spark: SparkSession, db_path: str, table: str, batch_rows: int = 50_000
) -> DataFrame:
    """PRAGMA-typed read, streamed in bounded chunks."""
    if not os.path.exists(db_path):
        raise FileNotFoundError(f"SQLite file not found: {db_path}")
    with sqlite3.connect(db_path) as con:
        info = con.execute(f'PRAGMA table_info("{table}")').fetchall()
        if not info:
            raise ValueError(f"Table {table!r} not found in {db_path}")
        names = [r[1] for r in info]
        types = [
            _SQLITE_TO_SPARK.get((r[2] or "").upper().split("(")[0], T.StringType())
            for r in info
        ]
        schema = T.StructType(
            [T.StructField(n, t, True) for n, t in zip(names, types)]
        )
        rows: list[tuple] = []
        cur = con.execute(f'SELECT * FROM "{table}"')
        frames = []
        while True:
            chunk = cur.fetchmany(batch_rows)
            if not chunk:
                break
            frames.append(spark.createDataFrame(chunk, schema))
        if not frames:
            return spark.createDataFrame(rows, schema)
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


def _bindable(c: Column, dt: T.DataType) -> Column:
    """``c`` rendered as the value sqlite3 binds for a ``dt`` column."""
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        # isoformat parity: fraction only when the microseconds are non-zero
        iso = F.date_format(c, "yyyy-MM-dd'T'HH:mm:ss.SSSSSS")
        return F.concat(F.regexp_replace(iso, r"\.000000$", ""), F.lit("+00:00"))
    if isinstance(dt, T.DateType):
        return F.date_format(c, "yyyy-MM-dd")
    if isinstance(dt, T.BooleanType):
        return c.cast("int")
    if isinstance(dt, T.DecimalType):
        return c.cast("double")
    if isinstance(dt, (T.StructType, T.ArrayType, T.MapType)):
        return F.to_json(c)
    return c


def _values(arr: pa.Array) -> list:
    """``arr`` as the Python values sqlite3 binds, ``None`` for NULL.

    ``to_numpy`` would widen a numeric column with NULLs to float64
    (``2**53 + 1`` becomes ``9007199254740992.0``) and turn NULL into
    NaN, so such a column is filled, converted to objects and masked.
    """
    if arr.null_count and (pa.types.is_integer(arr.type) or pa.types.is_floating(arr.type)):
        values = arr.fill_null(0).to_numpy().astype(object)
        values[arr.is_null().to_numpy(zero_copy_only=False)] = None
        return values.tolist()
    return arr.to_numpy(zero_copy_only=False).tolist()


def write_table(
    df: DataFrame,
    db_path: str,
    table: str,
    truncate: bool = False,
) -> int:
    """Append-first write with auto-DDL; returns rows written."""
    os.makedirs(os.path.dirname(os.path.abspath(db_path)) or ".", exist_ok=True)
    fields = df.schema.fields
    ddl_cols = ", ".join(f'"{f.name}" {_sqlite_type(f.dataType)}' for f in fields)
    rows_per_stmt = max(1, MAX_BIND_VARS // max(1, len(fields)))
    placeholders = "(" + ", ".join("?" for _ in fields) + ")"
    names = ", ".join(f'"{f.name}"' for f in fields)
    insert = f'INSERT INTO "{table}" ({names}) VALUES '
    full_stmt = insert + ", ".join([placeholders] * rows_per_stmt)
    # positional names: the projection never parses a user column name
    pos = [f"_{i}" for i in range(len(fields))]
    bindable = df.toDF(*pos).select(
        *(_bindable(F.col(p), f.dataType) for p, f in zip(pos, fields))
    )
    written = 0
    con = sqlite3.connect(db_path)
    try:
        con.execute(f'CREATE TABLE IF NOT EXISTS "{table}" ({ddl_cols})')
        if truncate:
            con.execute(f'DELETE FROM "{table}"')
        rows = chain.from_iterable(
            zip(*map(_values, batch.columns)) for batch in iter_batches(bindable)
        )
        while chunk := list(islice(rows, rows_per_stmt)):
            n = len(chunk)
            stmt = full_stmt if n == rows_per_stmt else insert + ", ".join([placeholders] * n)
            con.execute(stmt, list(chain.from_iterable(chunk)))
            written += n
        con.commit()
    finally:
        con.close()
    return written
