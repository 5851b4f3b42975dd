"""Connector tests beyond the file formats: DuckDB round-trip, the
Snowflake mock (parity with the reference's own mock), a LIVE http
source against a local server, and the Avro gated error."""

from __future__ import annotations

import os
import threading

import pytest

from tinyetl_spark.engine import transfer


REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def _write_nation(tmp_path) -> str:
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "nation.parquet")
    pq.write_table(pa.table({
        "n_nationkey": pa.array(range(25), pa.int64()),
        "n_name": [f"NATION_{i:02d}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int64()),
        "n_comment": [f"comment {i}" for i in range(25)],
    }), path)
    return path


def _write_region(tmp_path) -> str:
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "region.parquet")
    pq.write_table(pa.table({
        "r_regionkey": pa.array(range(5), pa.int64()),
        "r_name": REGIONS,
        "r_comment": [f"comment {i}" for i in range(5)],
    }), path)
    return path


def test_duckdb_roundtrip_append_truncate(spark, tmp_path):
    src = _write_nation(tmp_path)
    db = str(tmp_path / "wh.duckdb")
    st = transfer(spark, src, f"{db}#nations")
    assert st.rows_transferred == 25
    import duckdb

    con = duckdb.connect(db, read_only=True)
    assert con.execute("SELECT count(*) FROM nations").fetchone()[0] == 25
    con.close()
    # append-first
    transfer(spark, src, f"{db}#nations")
    # read back through the engine
    back = transfer(spark, f"duckdb:{db}#nations", str(tmp_path / "back.parquet"))
    assert back.rows_transferred == 50
    # truncate
    transfer(spark, src, f"{db}#nations", truncate=True)
    con = duckdb.connect(db, read_only=True)
    assert con.execute("SELECT count(*) FROM nations").fetchone()[0] == 25
    con.close()


def test_duckdb_read_values_match(spark, tmp_path):
    db = str(tmp_path / "v.duckdb")
    src = _write_region(tmp_path)
    transfer(spark, src, f"{db}#region")
    from tinyetl_spark.io import duckdb_io

    back = duckdb_io.read_table(spark, db, "region")
    names = sorted(r.r_name for r in back.collect())
    orig = sorted(r.r_name for r in spark.read.parquet(src).collect())
    assert names == orig == REGIONS


def test_snowflake_mock_roundtrip(spark, tmp_path):
    # target: stages parquet + logs simulated PUT/COPY (no error)
    st = transfer(spark, _write_region(tmp_path), "snowflake://account/db#regions")
    assert st.rows_transferred == 5
    # source: simulated COPY INTO export produces the 2-row sample
    out = str(tmp_path / "sf.parquet")
    st2 = transfer(spark, "snowflake://account/db#t", out)
    assert st2.rows_transferred == 2
    got = spark.read.parquet(out)
    assert set(got.columns) == {"id", "name", "created_at"}


def test_http_source_live_local_server(spark, tmp_path):
    """Real GET through the staging protocol against an in-process
    http.server — covers fetch, extension dispatch and inference."""
    import functools
    import http.server
    import socketserver

    (tmp_path / "data.csv").write_text("a,b\n1,x\n2,y\n")
    handler = functools.partial(
        http.server.SimpleHTTPRequestHandler, directory=str(tmp_path)
    )
    with socketserver.TCPServer(("127.0.0.1", 0), handler) as httpd:
        port = httpd.server_address[1]
        t = threading.Thread(target=httpd.serve_forever, daemon=True)
        t.start()
        try:
            out = str(tmp_path / "out.parquet")
            st = transfer(spark, f"http://127.0.0.1:{port}/data.csv", out)
            assert st.rows_transferred == 2
            got = spark.read.parquet(out).orderBy("a").collect()
            assert [r.a for r in got] == [1, 2]  # inference: a sniffed as int
            assert [r.b for r in got] == ["x", "y"]
        finally:
            httpd.shutdown()


def test_avro_single_file_roundtrip(spark, tmp_path):
    """Pure-Python OCF codec: unions, strings, longs, doubles, bools,
    timestamps survive a write+read (no spark-avro jar here)."""
    import datetime as dt

    df = spark.createDataFrame(
        [
            (1, "ann", 1.5, True, dt.datetime(2024, 1, 2, 3, 4, 5, 123456)),
            (2, None, None, None, None),
        ],
        "id long, name string, score double, ok boolean, at timestamp",
    )
    out = str(tmp_path / "t.avro")
    st = transfer(spark, _stage_parquet(spark, df, tmp_path), out)
    assert st.rows_transferred == 2
    from tinyetl_spark.io.files import read_avro

    back = {r.id: r for r in read_avro(spark, out).collect()}
    assert back[1].name == "ann" and back[1].score == 1.5 and back[1].ok is True
    assert back[1].at == dt.datetime(2024, 1, 2, 3, 4, 5, 123456)
    assert back[2].name is None and back[2].at is None


def _stage_parquet(spark, df, tmp_path) -> str:
    p = str(tmp_path / "stage.parquet")
    df.write.mode("overwrite").parquet(p)
    return p


def test_avro_directory_distributed_roundtrip(spark, tmp_path):
    """No spark-avro jar here, so a directory dataset exercises the
    DISTRIBUTED pure-Python fallback: one OCF part file per task on
    write, one Arrow-batched task per part file on read — null unions
    and timestamps must survive, and parallelism must be real (multiple
    part files for multiple input partitions)."""
    import datetime as dt
    import os

    from tinyetl_spark.io.files import read_avro, write_avro

    df = spark.createDataFrame(
        [
            (1, "ann", 1.5, True, dt.datetime(2024, 1, 2, 3, 4, 5, 123456)),
            (2, None, None, None, None),
            (3, "bob", -0.25, False, dt.datetime(2025, 6, 7, 8, 9, 10)),
        ],
        "id long, name string, score double, ok boolean, at timestamp",
    ).repartition(3)
    out = str(tmp_path / "avro_dir")
    assert write_avro(df, out) == 3
    parts = [f for f in os.listdir(out) if f.endswith(".avro")]
    assert len(parts) > 1  # distributed: more than one part file
    back = {r.id: r for r in read_avro(spark, out).collect()}
    assert len(back) == 3
    assert back[1].name == "ann" and back[1].score == 1.5 and back[1].ok is True
    assert back[1].at == dt.datetime(2024, 1, 2, 3, 4, 5, 123456)
    assert back[2].name is None and back[2].at is None
    assert back[3].score == -0.25 and back[3].ok is False

    # overwrite replaces, append accumulates
    assert write_avro(df.limit(1).repartition(1), out, mode="overwrite") == 1
    assert read_avro(spark, out).count() == 1
    assert write_avro(df.limit(1).repartition(1), out, mode="append") == 1
    assert read_avro(spark, out).count() == 2


def test_avro_rejects_corrupt_file(spark, tmp_path):
    p = tmp_path / "bad.avro"
    p.write_bytes(b"not avro at all")
    from tinyetl_spark.io import avro_py

    with pytest.raises(ValueError, match="not an Avro"):
        avro_py.read_file(str(p))


def test_ssh_fetch_builds_scp_command(monkeypatch, tmp_path):
    """ssh staging shells out to scp with the reference's flags
    (ssh.rs:70-83) — intercept subprocess to verify without a server."""
    import subprocess

    captured = {}

    def fake_run(cmd, **kw):
        captured["cmd"] = cmd

        class R:
            returncode = 0
            stderr = ""

        return R()

    monkeypatch.setattr(subprocess, "run", fake_run)
    from tinyetl_spark.io.staging import ssh_fetch

    staged = ssh_fetch("ssh://alice@host.example:2222/data/in.csv")
    assert os.path.exists(staged)
    cmd = captured["cmd"]
    assert cmd[0] == "scp" and "-P" in cmd and "2222" in cmd
    assert "alice@host.example:/data/in.csv" in cmd
    assert "StrictHostKeyChecking=no" in " ".join(cmd)


def test_binary_columns_write_as_base64(spark, tmp_path):
    """Blob -> base64 coercion at CSV and JSON sinks (reference
    duckdb.rs:293-296 blob handling)."""
    import base64 as b64
    import csv as csvmod
    import json

    from tinyetl_spark.io.files import write_csv, write_json

    df = spark.createDataFrame(
        [(1, bytearray(b"\x00\xffhi"))], "id long, payload binary"
    )
    out_csv = str(tmp_path / "blob.csv")
    write_csv(df, out_csv)
    with open(out_csv, newline="") as fh:
        rows = list(csvmod.DictReader(fh))
    assert rows[0]["payload"] == b64.b64encode(b"\x00\xffhi").decode()

    out_json = str(tmp_path / "blob.json")
    write_json(df, out_json)
    with open(out_json) as fh:
        data = json.load(fh)
    assert data[0]["payload"] == b64.b64encode(b"\x00\xffhi").decode()


def test_derby_jdbc_live_roundtrip(spark, tmp_path):
    """LIVE JDBC through Spark's real reader/writer (Derby ships in the
    Spark distribution): append-create, partitioned read with bounds
    query, truncate-on-overwrite, append-on-existing. This exercises the
    exact shared code path of the server-DB connectors
    (reference src/connectors/postgres.rs:304-543 tests the same cycle
    against a live server)."""
    from tinyetl_spark.io import jdbc as jio

    db = str(tmp_path / "derbydb")
    tgt = jio.build_jdbc("derby", f"derby://{db}", "sup")
    assert tgt.url == f"jdbc:derby:{db};create=true"
    df = spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", 2.5), (3, None, None)], "k long, s string, v double"
    )
    jio.write(df, tgt, "derby", mode="append")          # creates
    back = jio.read(spark, tgt, partition_column="k", num_partitions=2)
    assert back.count() == 3
    assert back.rdd.getNumPartitions() == 2
    assert dict(back.dtypes) == {"k": "bigint", "s": "string", "v": "double"}
    jio.write(df, tgt, "derby", mode="append")          # appends
    assert jio.read(spark, tgt).count() == 6
    jio.write(df, tgt, "derby", mode="overwrite")       # truncates
    rows = {r.k: (r.s, r.v) for r in jio.read(spark, tgt).collect()}
    assert rows == {1: ("a", 1.5), 2: ("b", 2.5), 3: (None, None)}


def test_streaming_foreachbatch_jdbc_rerunnable(spark):
    """Regression: re-running the Derby foreachBatch query in ONE JVM
    must work — rmtree without a Derby shutdown leaves the engine's
    booted instance pointing at deleted files, and the second run's
    ;create=true connection then fails inside foreachBatch."""
    from tests.conftest import SF_DIR
    from tinyetl_spark.queries import QUERIES

    for _ in range(2):
        assert QUERIES["streaming_foreachbatch_jdbc"](spark, SF_DIR).count() > 0


def test_avro_directory_mode_semantics_and_exact_values(spark, tmp_path):
    """Jar-free directory writes must honor Spark's write modes (error/
    ignore must NOT silently append) and must round-trip exact values:
    NaN doubles stay NaN (distinct from null) and longs above 2^53
    survive (the pandas float64 path would corrupt them)."""
    import math

    from tinyetl_spark.io.files import read_avro, write_avro

    big = 9007199254740993  # 2^53 + 1
    df = spark.createDataFrame(
        [(1, float("nan"), big), (2, None, None)],
        "id long, score double, ref long",
    )
    out = str(tmp_path / "d")
    assert write_avro(df, out) == 2
    with pytest.raises(FileExistsError):
        write_avro(df, out, mode="error")
    assert write_avro(df, out, mode="ignore") == 0
    assert read_avro(spark, out).count() == 2  # ignore really ignored
    back = {r.id: r for r in read_avro(spark, out).collect()}
    assert math.isnan(back[1].score) and back[1].ref == big
    assert back[2].score is None and back[2].ref is None


# ------------------------------------------------------------- ODBC

class _FakePyodbc:
    """Minimal pyodbc stand-in: stores tables in memory and answers
    exactly the statement shapes io/odbc_io.py issues (schema probe,
    CREATE/DELETE/INSERT/SELECT with [bracket] quoting). Lets the
    ODBC connector logic run end-to-end without unixODBC."""

    class Error(Exception):
        pass

    def __init__(self):
        self.tables: dict[str, dict] = {}
        self.connect_strings: list[str] = []

    def connect(self, conn_str, autocommit=True):
        self.connect_strings.append(conn_str)
        return _FakeConn(self)


class _FakeConn:
    def __init__(self, mod):
        self.mod = mod

    def cursor(self):
        return _FakeCursor(self.mod)

    def commit(self):
        pass

    def rollback(self):
        pass

    def close(self):
        pass


class _FakeCursor:
    def __init__(self, mod):
        self.mod = mod
        self._rows: list[tuple] = []
        self.description = None

    def _table(self, sql, kw):
        return sql.split(kw + " [", 1)[1].split("]", 1)[0]

    def execute(self, sql, params=None):
        import re

        t = self.mod.tables
        if sql.startswith("SELECT * FROM [") and sql.endswith("WHERE 1=0"):
            name = self._table(sql, "FROM")
            if name not in t:
                raise _FakePyodbc.Error(f"no table {name}")
            self.description = [(c, ty) for c, ty in t[name]["schema"]]
            self._rows = []
        elif sql.startswith("SELECT 1 FROM ["):
            name = self._table(sql, "FROM")
            if name not in t:
                raise _FakePyodbc.Error(f"no table {name}")
            self._rows = []
        elif sql.startswith("CREATE TABLE ["):
            name = self._table(sql, "TABLE")
            cols = re.findall(
                r"\[([^\]]+)\] (\w+(?:\(\d+(?:,\d+)?\))?)", sql.split("(", 1)[1]
            )
            # store python types for the probe's description
            tymap = {"BIGINT": int, "BIT": bool, "DECIMAL(18,4)": float}
            t[name] = {
                "schema": [(c, tymap.get(ty, str)) for c, ty in cols],
                "rows": [],
            }
        elif sql.startswith("DELETE FROM ["):
            t[self._table(sql, "FROM")]["rows"].clear()
        elif sql.startswith("INSERT INTO ["):
            name = self._table(sql, "INTO")
            n_cols = len(t[name]["schema"])
            rows = [
                tuple(params[i : i + n_cols]) for i in range(0, len(params), n_cols)
            ]
            t[name]["rows"].extend(rows)
        elif sql.startswith("SELECT * FROM ["):
            name = self._table(sql, "FROM")
            self.description = [(c, ty) for c, ty in t[name]["schema"]]
            self._rows = list(t[name]["rows"])
        else:
            raise _FakePyodbc.Error(f"fake pyodbc: unhandled SQL {sql[:60]}")

    def fetchmany(self, n):
        out, self._rows = self._rows[:n], self._rows[n:]
        return out


def test_odbc_roundtrip_via_fake_pyodbc(spark, tmp_path, monkeypatch):
    """The full ODBC path — URI parse, auto-DDL with the reference's
    type map, chunked multi-row INSERT, truncate, schema-probe read —
    through the engine with a fake pyodbc module."""
    import sys

    fake = _FakePyodbc()
    monkeypatch.setitem(sys.modules, "pyodbc", fake)

    url = ("odbc://Driver={ODBC Driver 17 for SQL Server};Server=localhost,1433;"
           "Database=testdb;UID=SA;PWD=x#customers")
    df = spark.createDataFrame(
        [(1, "Ada", 9.5), (2, "Grace", 3.25)], "id long, name string, score double"
    )
    from tinyetl_spark.io import odbc_io

    assert odbc_io.write_table(df, url) == 2
    # verbatim connection string reached the driver manager
    assert fake.connect_strings[0].startswith("Driver={ODBC Driver 17")
    # reference DDL type map
    schema = dict(fake.tables["customers"]["schema"])
    assert schema["id"] is int and schema["name"] is str and schema["score"] is float

    back = odbc_io.read_table(spark, url)
    assert back.count() == 2
    got = {r.id: (r.name, r.score) for r in back.collect()}
    assert got == {1: ("Ada", 9.5), 2: ("Grace", 3.25)}

    # append then truncate through the ENGINE write path
    from tinyetl_spark.uris import parse_uri
    from tinyetl_spark.engine import write_target

    loc = parse_uri(url)
    write_target(df, loc, append=True)
    assert len(fake.tables["customers"]["rows"]) == 4
    write_target(df, loc, append=False)  # truncate
    assert len(fake.tables["customers"]["rows"]) == 2


def test_odbc_transfer_counts_driver_side(spark, tmp_path, monkeypatch):
    """transfer() must treat odbc as a driver-side sink: the row count
    comes from the writer itself, NOT a write-job Observation (the
    toLocalIterator consumption never resolves an Observation — this
    deadlocked before the fix)."""
    import sys

    fake = _FakePyodbc()
    monkeypatch.setitem(sys.modules, "pyodbc", fake)
    src = tmp_path / "in.csv"
    src.write_text("id,name\n1,Ada\n2,Grace\n")
    stats = transfer(spark, str(src), "odbc://DSN=testdb;UID=u;PWD=p#people")
    assert stats.rows_transferred == 2
    assert len(fake.tables["people"]["rows"]) == 2


def test_odbc_without_pyodbc_fails_clearly(spark, monkeypatch):
    import sys

    monkeypatch.setitem(sys.modules, "pyodbc", None)
    from tinyetl_spark.io import odbc_io

    with pytest.raises(RuntimeError, match="pyodbc"):
        odbc_io.read_table(spark, "odbc://DSN=x#t")


def test_odbc_uri_parse_requires_table():
    from tinyetl_spark.io import odbc_io

    with pytest.raises(ValueError, match="table specification"):
        odbc_io.parse_odbc_uri("odbc://DSN=mydb;UID=u;PWD=p")
    conn, table = odbc_io.parse_odbc_uri("odbc://DSN=mydb;UID=u;PWD=p#t1")
    assert conn == "DSN=mydb;UID=u;PWD=p" and table == "t1"
