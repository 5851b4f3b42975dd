"""Embedded DuckDB source/sink (reference src/connectors/duckdb.rs).

Like SQLite, DuckDB is an embedded single-file database — the
reference drives it in-process behind a mutex (duckdb.rs:118-128), and
the honest Spark equivalent is a DRIVER-side connector streaming
bounded chunks (the duckdb Python module is in-container; there is no
JDBC jar). Reads fetch the table as one Arrow table; writes stream
Arrow record batches (:mod:`.arrow_stream`, one partition at a time),
each bulk-INSERTed through a registered view — the analogue of the
reference's Appender API (duckdb.rs:16-76). Timestamps are cast to
``timestamp_ntz`` in the Spark plan first, so they land as their wall
time in the session time zone (UTC), whatever the driver's ``TZ``;
arrays, structs and maps are rendered with ``to_json`` in the same
projection, the text the SQLite sink writes. For server-grade
parallelism use the JDBC path.

Parity:
* schema via ``DESCRIBE`` (duckdb.rs:140-192)
* auto-DDL ``CREATE TABLE IF NOT EXISTS`` with the reference's type map
  (duckdb.rs:393-406): string→TEXT, every integer→BIGINT,
  decimal→DOUBLE, boolean→BOOLEAN, date/datetime→TIMESTAMP,
  array/struct/map→JSON
* truncate = ``DELETE FROM``; append supported
"""

from __future__ import annotations

import os

import pyarrow as pa
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tinyetl_spark.io.arrow_stream import iter_batches

_NESTED = (T.ArrayType, T.StructType, T.MapType)
_SPARK_TO_DUCK = [
    (T.StringType, "TEXT"),
    (T.IntegralType, "BIGINT"),
    (T.BooleanType, "BOOLEAN"),
    (T.DoubleType, "DOUBLE"),
    (T.FloatType, "DOUBLE"),
    (T.DecimalType, "DOUBLE"),
    (T.TimestampType, "TIMESTAMP"),
    (T.TimestampNTZType, "TIMESTAMP"),
    (T.DateType, "DATE"),
    (T.BinaryType, "BLOB"),
    (_NESTED, "JSON"),
]


def _duck_type(dt: T.DataType) -> str:
    for cls, name in _SPARK_TO_DUCK:
        if isinstance(dt, cls):
            return name
    return "TEXT"


def _landed(c: Column, dt: T.DataType) -> Column:
    if isinstance(dt, T.TimestampType):
        return c.cast("timestamp_ntz")
    if isinstance(dt, _NESTED):
        return F.to_json(c)
    return c


def table_exists(db_path: str, table: str) -> bool:
    import duckdb

    if not os.path.exists(db_path):
        return False
    con = duckdb.connect(db_path, read_only=True)
    try:
        rows = con.execute(
            "SELECT table_name FROM information_schema.tables WHERE table_name = ?",
            [table],
        ).fetchall()
        return bool(rows)
    finally:
        con.close()


def read_table(spark: SparkSession, db_path: str, table: str) -> DataFrame:
    """The table fetched as one Arrow table, so each column keeps its
    type: a nullable BIGINT stays exact and its NULLs stay NULL, and a
    DECIMAL keeps its precision and scale."""
    import duckdb

    if not os.path.exists(db_path):
        raise FileNotFoundError(f"DuckDB file not found: {db_path}")
    con = duckdb.connect(db_path, read_only=True)
    try:
        return spark.createDataFrame(con.execute(f'SELECT * FROM "{table}"').arrow())
    finally:
        con.close()


def write_table(df: DataFrame, db_path: str, table: str, truncate: bool = False) -> int:
    """Append-first write with auto-DDL. Arrow batches stream one
    partition at a time; each is registered as a view and
    bulk-INSERTed (the Appender-equivalent path). The truncate and the
    inserts commit together, so a failed write commits no rows.
    Returns rows written."""
    import duckdb

    os.makedirs(os.path.dirname(os.path.abspath(db_path)) or ".", exist_ok=True)
    fields = df.schema.fields
    ddl_cols = ", ".join(f'"{f.name}" {_duck_type(f.dataType)}' for f in fields)
    cols = ", ".join(f'"{f.name}"' for f in fields)
    # positional names: the projection never parses a user column name
    pos = [f"_{i}" for i in range(len(fields))]
    landed = df.toDF(*pos).select(*(_landed(F.col(p), f.dataType) for p, f in zip(pos, fields)))
    con = duckdb.connect(db_path)
    written = 0
    try:
        con.execute(f'CREATE TABLE IF NOT EXISTS "{table}" ({ddl_cols})')
        con.execute("BEGIN TRANSACTION")
        if truncate:
            con.execute(f'DELETE FROM "{table}"')
        for batch in iter_batches(landed):
            con.register("_tinyetl_batch", pa.Table.from_batches([batch]))
            con.execute(f'INSERT INTO "{table}" ({cols}) SELECT * FROM _tinyetl_batch')
            written += batch.num_rows
        con.execute("COMMIT")
    finally:
        con.close()
    return written
