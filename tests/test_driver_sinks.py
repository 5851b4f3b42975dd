"""Driver-side sinks (SQLite, DuckDB) read the frame as Arrow record
batches, one partition at a time (``tinyetl_spark.io.arrow_stream``).
These tests pin that bound, the value every Spark type lands as in
each database, and that a write failing mid-stream commits no rows."""

from __future__ import annotations

import datetime as dt
import math
import os
import sqlite3
import time
from decimal import Decimal

import duckdb
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from tinyetl_spark.io import duckdb_io
from tinyetl_spark.io import sqlite as sio
from tinyetl_spark.io.arrow_stream import iter_batches
from tinyetl_spark.validate import SchemaFile

# one row of values, one of NULLs, one of edge values; two partitions,
# so every sink sees more than one batch
SWEEP_SQL = """
SELECT * FROM VALUES
 (1, 9007199254740993L, CAST('NaN' AS FLOAT), X'00FF', true, CAST(12.34 AS DECIMAL(10,2)),
  date'2024-01-01', timestamp'2024-01-01 00:00:00',
  timestamp_ntz'2024-01-01 00:00:00.123456', array(1, 2), named_struct('a', 1, 'b', 'x'),
  map('k', 2.5D), 'héllo', CAST(3 AS SMALLINT), CAST(-4 AS TINYINT), 7, 1.5D, 2.5D),
 (2, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL,
  NULL, NULL, NULL),
 (3, -5L, CAST(1.1 AS FLOAT), X'', false, CAST(-0.5 AS DECIMAL(10,2)), date'1969-12-31',
  timestamp'2024-06-30 23:59:59.5', timestamp_ntz'1960-01-01 00:00:00', array(),
  named_struct('a', NULL, 'b', NULL), map(), '', CAST(0 AS SMALLINT), CAST(0 AS TINYINT), 0,
  CAST('NaN' AS DOUBLE), 0.0D)
 AS t(k, big, f32, bin, flag, dec, day, ts, tsn, arr, st, m, s, sm, ti, i, dbl, `unit.price`)
"""
SWEEP_COLS = ["k", "big", "f32", "bin", "flag", "dec", "day", "ts", "tsn", "arr", "st", "m",
              "s", "sm", "ti", "i", "dbl", "unit.price"]


@pytest.fixture()
def sweep(spark):
    return spark.sql(SWEEP_SQL).repartition(2, "k")


@pytest.fixture()
def driver_tz(request):
    old = os.environ.get("TZ")
    os.environ["TZ"] = request.param
    time.tzset()
    yield request.param
    if old is None:
        del os.environ["TZ"]
    else:
        os.environ["TZ"] = old
    time.tzset()


def _nan_as_text(row):
    return tuple("NaN" if isinstance(v, float) and math.isnan(v) else v for v in row)


def test_iter_batches_prefetches_only_the_next_partition(spark, tmp_path):
    sc = spark.sparkContext
    df = spark.range(0, 800, numPartitions=8)
    group = f"bound-{tmp_path.name}"
    sc.setJobGroup(group, group)
    try:
        batches = iter_batches(df)
        first = next(batches)
        jobs_after_first = len(sc.statusTracker().getJobIdsForGroup(group))
        rest = list(batches)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # one job per partition; the one being read plus the prefetched next
    assert 1 <= jobs_after_first <= 2
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 8
    assert first.column(0).to_pylist() == list(range(100))
    assert [v for b in [first, *rest] for v in b.column(0).to_pylist()] == list(range(800))


@pytest.mark.parametrize("arr", [
    pa.array([1, None, 2**53 + 1, -(2**63)], pa.int64()),
    pa.array([1, 2, 3], pa.int64()),
    pa.array([-4, None], pa.int8()),
    pa.array([3, None], pa.int16()),
    pa.array([7, None], pa.int32()),
    pa.array([float("nan"), None, 1.1], pa.float32()),
    pa.array([float("nan"), 1.5, float("inf")], pa.float64()),
    pa.array([None, 2.5], pa.float64()),
    pa.array(["héllo", None, ""], pa.string()),
    pa.array([b"\x00\xff", None, b""], pa.binary()),
    pa.array([True, None, False], pa.bool_()),
    pa.nulls(2),
], ids=lambda a: str(a.type))
def test_sqlite_column_values_match_row_wise_conversion(arr):
    """The numpy conversion gives, value for value and type for type,
    what pyarrow's row-wise ``to_pylist`` gives."""
    got, want = sio._values(arr), arr.to_pylist()
    assert [type(v) for v in got] == [type(v) for v in want]
    assert _nan_as_text(got) == _nan_as_text(want)


def test_sinks_never_pickle_rows(spark, tmp_path, monkeypatch):
    from pyspark.sql.classic.dataframe import DataFrame

    def no_rows(*_a, **_k):
        raise AssertionError("toLocalIterator called")

    monkeypatch.setattr(DataFrame, "toLocalIterator", no_rows)
    df = spark.range(0, 50, numPartitions=3).select("id", F.col("id").cast("string").alias("s"))
    assert sio.write_table(df, str(tmp_path / "t.db"), "t") == 50
    assert duckdb_io.write_table(df, str(tmp_path / "t.duckdb"), "t") == 50


def test_sqlite_type_sweep(spark, tmp_path, sweep):
    """Each type lands with the storage class and value below: bigint
    keeps all 64 bits beside a NULL, NaN and NULL are both SQL NULL
    (SQLite stores no NaN), float32 widens to its exact double."""
    db = str(tmp_path / "sweep.db")
    assert sio.write_table(sweep, db, "t") == 3
    con = sqlite3.connect(db)
    decl = [(r[1], r[2]) for r in con.execute('PRAGMA table_info("t")')]
    assert decl == list(zip(SWEEP_COLS, [
        "INTEGER", "INTEGER", "REAL", "BLOB", "INTEGER", "REAL", "TEXT", "TEXT", "TEXT", "TEXT",
        "TEXT", "TEXT", "TEXT", "INTEGER", "INTEGER", "INTEGER", "REAL", "REAL"]))
    probe = ", ".join(f'typeof("{c}"), "{c}"' for c in SWEEP_COLS[1:])
    got = con.execute(f"SELECT {probe} FROM t ORDER BY k").fetchall()
    assert got == [
        ("integer", 9007199254740993, "null", None, "blob", b"\x00\xff", "integer", 1,
         "real", 12.34, "text", "2024-01-01", "text", "2024-01-01T00:00:00+00:00",
         "text", "2024-01-01T00:00:00.123456+00:00", "text", "[1,2]",
         "text", '{"a":1,"b":"x"}', "text", '{"k":2.5}', "text", "héllo",
         "integer", 3, "integer", -4, "integer", 7, "real", 1.5, "real", 2.5),
        ("null", None) * 17,
        ("integer", -5, "real", 1.100000023841858, "blob", b"", "integer", 0, "real", -0.5,
         "text", "1969-12-31", "text", "2024-06-30T23:59:59.500000+00:00",
         "text", "1960-01-01T00:00:00+00:00", "text", "[]", "text", "{}", "text", "{}",
         "text", "", "integer", 0, "integer", 0, "integer", 0, "null", None, "real", 0.0),
    ]
    con.close()
    # zero rows: the table is still created, with the same columns
    empty = str(tmp_path / "empty.db")
    assert sio.write_table(sweep.limit(0), empty, "t") == 0
    con = sqlite3.connect(empty)
    assert [(r[1], r[2]) for r in con.execute('PRAGMA table_info("t")')] == decl
    assert con.execute("SELECT count(*) FROM t").fetchone()[0] == 0
    con.close()


def test_duckdb_type_sweep(spark, tmp_path, sweep):
    """Arrow carries each value as Spark holds it: bigint keeps all 64
    bits beside a NULL (not widened through float64), NaN stays apart
    from NULL, every integral type lands as BIGINT, and arrays, structs
    and maps land as the JSON text the SQLite sink writes."""
    db = str(tmp_path / "sweep.duckdb")
    assert duckdb_io.write_table(sweep, db, "t") == 3
    con = duckdb.connect(db, read_only=True)
    decl = [(r[0], r[1]) for r in con.execute("DESCRIBE t").fetchall()]
    assert decl == list(zip(SWEEP_COLS, [
        "BIGINT", "BIGINT", "DOUBLE", "BLOB", "BOOLEAN", "DOUBLE", "DATE", "TIMESTAMP",
        "TIMESTAMP", "JSON", "JSON", "JSON", "VARCHAR", "BIGINT", "BIGINT", "BIGINT",
        "DOUBLE", "DOUBLE"]))
    got = [_nan_as_text(r) for r in con.execute("SELECT * FROM t ORDER BY k").fetchall()]
    con.close()
    assert got == [
        (1, 9007199254740993, "NaN", b"\x00\xff", True, 12.34, dt.date(2024, 1, 1),
         dt.datetime(2024, 1, 1), dt.datetime(2024, 1, 1, 0, 0, 0, 123456), "[1,2]",
         '{"a":1,"b":"x"}', '{"k":2.5}', "héllo", 3, -4, 7, 1.5, 2.5),
        (2,) + (None,) * 17,
        (3, -5, 1.100000023841858, b"", False, -0.5, dt.date(1969, 12, 31),
         dt.datetime(2024, 6, 30, 23, 59, 59, 500000), dt.datetime(1960, 1, 1), "[]",
         "{}", "{}", "", 0, 0, 0, "NaN", 0.0),
    ]
    empty = str(tmp_path / "empty.duckdb")
    assert duckdb_io.write_table(sweep.limit(0), empty, "t") == 0
    con = duckdb.connect(empty, read_only=True)
    assert [(r[0], r[1]) for r in con.execute("DESCRIBE t").fetchall()] == decl
    assert con.execute("SELECT count(*) FROM t").fetchone()[0] == 0
    con.close()


def test_duckdb_read_table_keeps_types_and_values(spark, tmp_path, sweep):
    """``read_table`` gives each column the Spark type of its DuckDB
    column: a nullable BIGINT stays exact with its NULL (not a double
    with NaN), and a DECIMAL keeps its precision and scale."""
    db = str(tmp_path / "rt.duckdb")
    duckdb_io.write_table(sweep, db, "t")
    back = duckdb_io.read_table(spark, db, "t")
    assert back.dtypes == list(zip(SWEEP_COLS, [
        "bigint", "bigint", "double", "binary", "boolean", "double", "date", "timestamp",
        "timestamp", "string", "string", "string", "string", "bigint", "bigint", "bigint",
        "double", "double"]))
    want = sweep.select(*(
        F.to_json(c) if c in ("arr", "st", "m") else F.col(f"`{c}`").cast(t)
        for c, t in back.dtypes
    ))
    assert back.exceptAll(want).count() == 0 and want.exceptAll(back).count() == 0
    assert back.filter("k = 1").first().big == 2**53 + 1
    duckdb_io.write_table(sweep.limit(0), str(tmp_path / "empty.duckdb"), "t")
    assert duckdb_io.read_table(spark, str(tmp_path / "empty.duckdb"), "t").dtypes == back.dtypes
    con = duckdb.connect(db)
    con.execute("CREATE TABLE d AS SELECT CAST(12.34 AS DECIMAL(10,2)) AS dec UNION ALL SELECT NULL")
    con.close()
    d = duckdb_io.read_table(spark, db, "d")
    assert d.dtypes == [("dec", "decimal(10,2)")]
    assert sorted(d.collect(), key=lambda r: r.dec is None) == [(Decimal("12.34"),), (None,)]


@pytest.mark.parametrize("driver_tz", ["UTC", "America/New_York"], indirect=True)
def test_duckdb_timestamps_ignore_driver_tz(spark, tmp_path, driver_tz):
    """Timestamps land as their wall time in the session time zone
    (UTC), not shifted to the driver process's local zone."""
    df = spark.sql(
        "SELECT timestamp'2024-01-01 00:00:00' AS whole, "
        "timestamp'2024-01-01 00:00:00.123456' AS micros, "
        "timestamp_ntz'2024-01-01 00:00:00' AS ntz, date'2024-01-01' AS day"
    )
    db = str(tmp_path / "tz.duckdb")
    assert duckdb_io.write_table(df, db, "t") == 1
    con = duckdb.connect(db, read_only=True)
    assert con.execute("SELECT * FROM t").fetchone() == (
        dt.datetime(2024, 1, 1), dt.datetime(2024, 1, 1, 0, 0, 0, 123456),
        dt.datetime(2024, 1, 1), dt.date(2024, 1, 1),
    )
    con.close()


def _count(sink, path):
    con = sqlite3.connect(path) if sink == "sqlite" else duckdb.connect(path, read_only=True)
    try:
        return con.execute("SELECT count(*) FROM t").fetchone()[0]
    finally:
        con.close()


@pytest.mark.parametrize("truncate", [False, True], ids=["append", "truncate"])
@pytest.mark.parametrize("sink", ["sqlite", "duckdb"])
def test_violation_mid_stream_commits_no_rows(spark, tmp_path, sink, truncate):
    """The violating value sits in the last of 4 partitions, so the sink
    has already inserted three batches when the error arrives. The
    error names the column and value, and the table keeps exactly the
    rows it had (a truncate is rolled back with the inserts)."""
    write = sio.write_table if sink == "sqlite" else duckdb_io.write_table
    path = str(tmp_path / f"t.{sink}")
    q = spark.range(0, 2000, numPartitions=4).select(
        F.col("id").cast("string").alias("q"), F.lit("t").alias("tag"))
    assert write(q, path, "t") == 2000
    schema = SchemaFile.from_dict({"columns": [{"name": "q", "type": "integer"},
                                               {"name": "tag", "type": "string"}]})
    bad = q.select(F.when(F.col("q") == "1999", "abc").otherwise(F.col("q")).alias("q"), "tag")
    with pytest.raises(Exception, match=r"schema violation on column 'q' .*value=abc"):
        write(schema.apply(bad, on_violation="error"), path, "t", truncate=truncate)
    assert _count(sink, path) == 2000
