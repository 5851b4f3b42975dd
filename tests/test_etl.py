"""End-to-end engine tests: round-trips through every file sink, the
sqlite connector, transforms, schema validation, CLI and YAML jobs —
mirroring the reference's round-trip + example-script test strategy
(SURVEY.md §5.2-5.3; reference src/connectors/csv.rs:630-685,
json.rs:474-511, parquet.rs:529-582,
examples/06_csv_to_sqlite_with_transforms, examples/13_yaml_config)."""

from __future__ import annotations

import json
import sqlite3

import pytest

from tinyetl_spark.engine import transfer
from tinyetl_spark.transforms import apply_inline, apply_script, compile_lua_file
from tinyetl_spark.validate import SchemaFile

CSV_FIXTURE = """id,name,price,in_stock,added,notes
1,Widget,12.50,true,2023-12-25,first
2,Gadget,99.00,false,12/26/2023,
3,Doohickey,0.25,true,2023-12-27T08:30:00,third
"""


@pytest.fixture()
def csv_file(tmp_path):
    p = tmp_path / "products.csv"
    p.write_text(CSV_FIXTURE)
    return str(p)


# ------------------------------------------------------ CSV inference

def test_csv_inference_parity(spark, csv_file):
    from tinyetl_spark.io.files import read_csv

    df = read_csv(spark, csv_file)
    types = dict(df.dtypes)
    assert types["id"] == "bigint"
    assert types["name"] == "string"
    assert types["price"] == "double"
    assert types["in_stock"] == "boolean"
    assert types["added"] == "timestamp"
    assert types["notes"] == "string"
    rows = {r.id: r for r in df.collect()}
    assert rows[2].notes is None           # empty → NULL
    assert rows[1].price == 12.50
    assert rows[1].added.year == 2023 and rows[1].added.month == 12


def test_csv_mixed_type_column_degrades_to_string(spark, tmp_path):
    p = tmp_path / "mixed.csv"
    # 'two' breaks the int column; int+decimal ALSO counts as mixed —
    # the reference's discriminant check (src/schema.rs:526-554) does
    # not widen numerics
    p.write_text("a,b\n1,1\ntwo,2.5\n")
    from tinyetl_spark.io.files import read_csv

    df = read_csv(spark, str(p))
    assert dict(df.dtypes)["a"] == "string"
    assert dict(df.dtypes)["b"] == "string"


# -------------------------------------------------------- round-trips

def test_parquet_csv_roundtrip(spark, tmp_path):
    src = "/root/testdata/sf0.001/region.parquet"
    csv_out = str(tmp_path / "region.csv")
    st = transfer(spark, src, csv_out)
    assert st.rows_transferred == 5
    back = transfer(spark, csv_out, str(tmp_path / "region2.parquet"))
    assert back.rows_transferred == 5
    orig = spark.read.parquet(src).orderBy("r_regionkey").collect()
    got = spark.read.parquet(str(tmp_path / "region2.parquet")).orderBy("r_regionkey").collect()
    assert [r.r_name for r in got] == [r.r_name for r in orig]


def test_json_array_roundtrip_and_append(spark, tmp_path):
    src = "/root/testdata/sf0.001/region.parquet"
    out = str(tmp_path / "region.json")
    transfer(spark, src, out)
    data = json.load(open(out))
    assert len(data) == 5 and {"r_regionkey", "r_name"} <= set(data[0])
    # second transfer appends (merge with existing array)
    transfer(spark, src, out)
    assert len(json.load(open(out))) == 10
    # truncate forces overwrite
    transfer(spark, src, out, truncate=True)
    assert len(json.load(open(out))) == 5


def test_csv_target_never_appends(spark, tmp_path):
    src = "/root/testdata/sf0.001/region.parquet"
    out = str(tmp_path / "r.csv")
    transfer(spark, src, out)
    transfer(spark, src, out)  # exists + no append support → truncated
    n_lines = len(open(out).read().strip().splitlines())
    assert n_lines == 6  # header + 5 rows, not 11


def test_sqlite_roundtrip_with_transform(spark, tmp_path):
    """Twin of reference examples/06_csv_to_sqlite_with_transforms:
    price_cents = floor(price * 100) lands as an integer column."""
    csvf = tmp_path / "p.csv"
    csvf.write_text("sku,price\nA,1299.99\nB,0.01\n")
    db = str(tmp_path / "shop.db")
    st = transfer(
        spark, str(csvf), f"{db}#products",
        transform="price_cents=math.floor(row.price * 100); sku_uc=string.upper(row.sku)",
    )
    assert st.rows_transferred == 2
    con = sqlite3.connect(db)
    got = dict(con.execute("SELECT sku_uc, price_cents FROM products").fetchall())
    assert got == {"A": 129999, "B": 1}
    # append run doubles the rows (sqlite supports append)
    transfer(spark, str(csvf), f"{db}#products",
             transform="price_cents=math.floor(row.price * 100); sku_uc=string.upper(row.sku)")
    assert con.execute("SELECT count(*) FROM products").fetchone()[0] == 4
    # and truncate resets
    transfer(spark, str(csvf), f"{db}#products", truncate=True,
             transform="price_cents=math.floor(row.price * 100); sku_uc=string.upper(row.sku)")
    assert con.execute("SELECT count(*) FROM products").fetchone()[0] == 2


def _traced_inserts(monkeypatch) -> list[str]:
    """INSERT statements the sqlite sink executes, in order."""
    from tinyetl_spark.io import sqlite as sio

    stmts: list[str] = []
    connect = sqlite3.connect

    def keep_inserts(sql: str) -> None:
        if sql.lstrip().startswith("INSERT"):
            stmts.append(sql)

    def traced(*a, **kw):
        con = connect(*a, **kw)
        con.set_trace_callback(keep_inserts)
        return con

    monkeypatch.setattr(sio.sqlite3, "connect", traced)
    return stmts


@pytest.mark.parametrize(
    "n_cols,n_rows,n_stmts",
    [
        (3, 0, 0),      # empty frame: table created, nothing inserted
        (3, 300, 1),    # exactly rows_per_stmt (900 // 3) rows
        (3, 301, 2),    # one full statement plus a one-row tail
        (460, 3, 3),    # wider than 450 columns: one row per statement
    ],
    ids=["empty", "exact_chunk", "chunk_plus_one", "wide"],
)
def test_sqlite_chunk_boundaries_append_truncate(spark, tmp_path, monkeypatch,
                                                 n_cols, n_rows, n_stmts):
    from pyspark.sql import functions as F

    from tinyetl_spark.io import sqlite as sio

    df = spark.range(n_rows).select(
        *[(F.col("id") * n_cols + i).alias(f"c{i}") for i in range(n_cols)]
    )
    db = str(tmp_path / "chunks.db")
    stmts = _traced_inserts(monkeypatch)
    assert sio.write_table(df, db, "t") == n_rows
    assert len(stmts) == n_stmts
    con = sqlite3.connect(db)
    cols = [r[1] for r in con.execute('PRAGMA table_info("t")')]
    assert cols == [f"c{i}" for i in range(n_cols)]
    got = con.execute("SELECT c0, c1, count(*) FROM t GROUP BY c0, c1").fetchall()
    assert sorted(got) == [(r * n_cols, r * n_cols + 1, 1) for r in range(n_rows)]
    # append doubles the rows, truncate resets them
    assert sio.write_table(df, db, "t") == n_rows
    assert con.execute("SELECT count(*) FROM t").fetchone()[0] == 2 * n_rows
    assert sio.write_table(df, db, "t", truncate=True) == n_rows
    assert con.execute("SELECT count(*) FROM t").fetchone()[0] == n_rows
    con.close()


def test_sqlite_decimal_and_nested_columns_land(spark, tmp_path):
    """Decimals bind as REAL and nested values as JSON text, like the
    DDL declares (sqlite3 binds neither Decimal nor list natively). A
    dotted column name lands as written."""
    from tinyetl_spark.io import sqlite as sio

    df = spark.sql(
        "SELECT CAST(12.34 AS DECIMAL(10,2)) AS `unit.price`, array(1, 2, 3) AS xs, "
        "named_struct('a', 1, 'b', 'x') AS st, map('k', 2.5D) AS m"
    )
    db = str(tmp_path / "nested.db")
    assert sio.write_table(df, db, "t") == 1
    con = sqlite3.connect(db)
    decl = {r[1]: r[2] for r in con.execute('PRAGMA table_info("t")')}
    assert decl == {"unit.price": "REAL", "xs": "TEXT", "st": "TEXT", "m": "TEXT"}
    row = con.execute(
        'SELECT "unit.price", typeof("unit.price"), xs, typeof(xs), st, m FROM t'
    ).fetchone()
    assert row[:4] == (12.34, "real", "[1,2,3]", "text")
    assert json.loads(row[4]) == {"a": 1, "b": "x"}
    assert json.loads(row[5]) == {"k": 2.5}


def test_sqlite_timestamps_ignore_driver_tz(spark, tmp_path):
    """Timestamps render in the session time zone (UTC), not in the
    driver process's local zone."""
    import os
    import time

    from tinyetl_spark.io import sqlite as sio

    df = spark.sql(
        "SELECT timestamp'2024-01-01 00:00:00' AS whole, "
        "timestamp'2024-01-01 00:00:00.123456' AS micros, date'2024-01-01' AS day"
    )
    db = str(tmp_path / "tz.db")
    old = os.environ.get("TZ")
    os.environ["TZ"] = "America/New_York"
    time.tzset()
    try:
        assert sio.write_table(df, db, "t") == 1
    finally:
        if old is None:
            del os.environ["TZ"]
        else:
            os.environ["TZ"] = old
        time.tzset()
    row = sqlite3.connect(db).execute("SELECT whole, micros, day FROM t").fetchone()
    assert row == (
        "2024-01-01T00:00:00+00:00",
        "2024-01-01T00:00:00.123456+00:00",
        "2024-01-01",
    )


def test_sqlite_null_in_every_column_type_is_sql_null(spark, tmp_path):
    from pyspark.sql import types as T

    from tinyetl_spark.io import sqlite as sio

    types = [
        T.StringType(), T.LongType(), T.IntegerType(), T.ShortType(), T.ByteType(),
        T.BooleanType(), T.DoubleType(), T.FloatType(), T.DecimalType(10, 2),
        T.TimestampType(), T.TimestampNTZType(), T.DateType(), T.BinaryType(),
        T.ArrayType(T.LongType()), T.MapType(T.StringType(), T.LongType()),
        T.StructType([T.StructField("a", T.LongType())]),
    ]
    schema = T.StructType([T.StructField(f"c{i}", t) for i, t in enumerate(types)])
    df = spark.createDataFrame([tuple([None] * len(types))], schema)
    db = str(tmp_path / "nulls.db")
    assert sio.write_table(df, db, "t") == 1
    probe = ", ".join(f"typeof(c{i})" for i in range(len(types)))
    assert sqlite3.connect(db).execute(f"SELECT {probe} FROM t").fetchone() == (
        ("null",) * len(types)
    )


# --------------------------------------------------------- transforms

def test_inline_preserves_columns_and_chains(spark):
    df = spark.createDataFrame([(2, 3.0)], "a long, b double")
    out = apply_inline(df, "c=row.a + row.b; d=c * 2")
    row = out.collect()[0]
    assert row.a == 2 and row.b == 3.0 and row.c == 5.0 and row.d == 10.0


def test_arithmetic_on_text_converts_like_lua(spark):
    # a column inferred as string (mixed int/decimal text) in arithmetic:
    # Lua converts the text; ANSI mode's implicit bigint cast would fail
    df = spark.createDataFrame([("7000",), ("6200.5",), ("n/a",)], "pay string")
    out = apply_inline(df, "yearly=row.pay * 12; half=row.pay / 2")
    assert dict(out.dtypes)["yearly"] == "double"
    assert [(r.yearly, r.half) for r in out.collect()] == [
        (84000.0, 3500.0), (74406.0, 3100.25), (None, None),
    ]


def test_string_number_equality_is_false_like_lua(spark):
    # Lua never equates a string and a number; ANSI mode would cast the
    # text and fail the job on 'n/a'
    df = spark.createDataFrame([("10", 1), ("n/a", 10), (None, 5)], "s string, n long")
    out = apply_inline(df, "eq=row.s == 10; ne=row.s ~= 10; neq=row.n == '1'; "
                           "nne=row.n ~= '1'; same=row.n == 10")
    assert [(r.eq, r.ne, r.neq, r.nne, r.same) for r in out.collect()] == [
        (False, True, False, True, False),
        (False, True, False, True, True),
        (False, True, False, True, False),
    ]


@pytest.mark.parametrize("op", ["<", "<=", ">", ">="])
@pytest.mark.parametrize("expr", ["row.s {op} 10", "10 {op} row.s", "row.n {op} '1'"])
def test_ordering_string_with_number_raises_like_lua(spark, op, expr):
    from tinyetl_spark.transforms import TransformError

    df = spark.createDataFrame([("2.1", 1)], "s string, n long")
    with pytest.raises(TransformError, match="attempt to compare string with number"):
        apply_inline(df, "x=" + expr.format(op=op))


def test_script_mode_comments_and_chaining(spark):
    df = spark.createDataFrame([(100.0,)], "price double")
    out = apply_script(df, "-- tax calc\nnet = row.price / 1.19\ntax = row.price - net\n")
    row = out.collect()[0]
    assert abs(row.net - 84.0336) < 1e-3 and abs(row.tax + row.net - 100.0) < 1e-9


def test_ternary_and_gsub_and_sub(spark):
    df = spark.createDataFrame([("555-123a4", 25)], "phone string, age long")
    out = apply_inline(
        df,
        "clean=row.phone:gsub('[^%d]', ''); "
        "grp=row.age < 30 and 'young' or 'mature'; "
        "area=string.sub(row.phone, 1, 3)",
    )
    row = out.collect()[0]
    assert row.clean == "5551234" and row.grp == "young" and row.area == "555"


def test_match_extracts_capture(spark):
    df = spark.createDataFrame([("bob@example.com",)], "email string")
    out = apply_inline(df, "domain=row.email:match('@(.+)')")
    assert out.collect()[0].domain == "example.com"


def test_transform_file_projection_and_filter(spark, tmp_path):
    tf = tmp_path / "t.py"
    tf.write_text(
        "def transform(row):\n"
        "    if row['r_regionkey'] >= 3:\n"
        "        return None\n"
        "    return {'key': row['r_regionkey'], 'label': row['r_name'].lower()}\n"
    )
    df = spark.read.parquet("/root/testdata/sf0.001/region.parquet")
    out = compile_lua_file(df, str(tf))
    rows = out.orderBy("key").collect()
    assert out.columns == ["key", "label"]  # projection: only returned keys
    assert len(rows) == 3                    # rows 3,4 filtered
    assert rows[0].label == "africa"  # lowered by the transform


# --------------------------------------------------------- validation

SCHEMA_YAML = """
columns:
  - name: event_id
    type: integer
    nullable: false
  - name: event_type
    type: string
    pattern: '^[a-z_]+$'
  - name: value
    type: decimal
    nullable: false
    default: 0.0
"""


def test_schema_file_validation_pass_and_defaults(spark, tmp_path):
    sf = tmp_path / "schema.yaml"
    sf.write_text(SCHEMA_YAML)
    df = spark.createDataFrame(
        [(1, "click", 2.5), (2, "view", None)],
        "event_id long, event_type string, value double",
    )
    out = SchemaFile.from_file(str(sf)).apply(df)
    rows = {r.event_id: r for r in out.collect()}
    assert rows[2].value == 0.0  # default filled
    assert out.columns == ["event_id", "event_type", "value"]


def test_schema_file_pattern_violation_errors(spark, tmp_path):
    sf = tmp_path / "schema.yaml"
    sf.write_text(SCHEMA_YAML)
    df = spark.createDataFrame([(1, "BAD TYPE!", 1.0)],
                               "event_id long, event_type string, value double")
    with pytest.raises(Exception, match="schema violation"):
        SchemaFile.from_file(str(sf)).apply(df).collect()


def test_schema_file_nonnull_violation_filter_mode(spark, tmp_path):
    sf = tmp_path / "schema.yaml"
    sf.write_text(SCHEMA_YAML)
    df = spark.createDataFrame([(None, "ok", 1.0), (2, "ok", 1.0)],
                               "event_id long, event_type string, value double")
    out = SchemaFile.from_file(str(sf)).apply(df, on_violation="filter")
    assert [r.event_id for r in out.collect()] == [2]


def test_schema_file_quarantine_split(spark, tmp_path):
    sf = tmp_path / "schema.yaml"
    sf.write_text(SCHEMA_YAML)
    df = spark.createDataFrame(
        [(1, "good_one", 1.0), (None, "x", 1.0), (3, "NOPE", 1.0)],
        "event_id long, event_type string, value double",
    )
    good, bad = SchemaFile.from_file(str(sf)).split(df)
    assert sorted(r.event_id for r in good.collect()) == [1]
    assert bad.count() == 2


def test_boolean_string_coercion(spark):
    rules = SchemaFile.from_dict(
        {"columns": [{"name": "flag", "type": "boolean"}]}
    )
    df = spark.createDataFrame([("yes",), ("0",), ("FALSE",)], "flag string")
    got = [r.flag for r in rules.apply(df).collect()]
    assert got == [True, False, False]


# ------------------------------- declared schema vs inference, try_cast

def _write(tmp_path, name: str, text: str) -> str:
    p = tmp_path / name
    p.write_text(text)
    return str(p)


def test_inferred_cast_nulls_a_late_malformed_value(spark, tmp_path):
    # the 1000-row sample sees only ints; the late 'abc' must become NULL
    # (try_cast), not fail the job under ANSI mode
    src = _write(tmp_path, "late.csv",
                 "n\n" + "".join(f"{i}\n" for i in range(1500)) + "abc\n")
    out = str(tmp_path / "late.parquet")
    assert transfer(spark, src, out).rows_transferred == 1501
    back = spark.read.parquet(out)
    assert dict(back.dtypes) == {"n": "bigint"}
    assert back.filter("n IS NULL").count() == 1
    assert back.agg({"n": "max"}).first()[0] == 1499


Q_SCHEMA = "columns:\n  - {name: q, type: integer}\n  - {name: tag, type: string}\n"


@pytest.mark.parametrize("values,kept", [
    (["1", "abc", "3"], [1, 3]),
    (["1.5", "2.0", "3"], [3]),  # decimal text is not an integer
])
def test_declared_integer_malformed_text_is_filtered(spark, tmp_path, values, kept):
    src = _write(tmp_path, "q.csv",
                 "q,tag\n" + "".join(f"{v},t{i}\n" for i, v in enumerate(values)))
    schema = _write(tmp_path, "q.yaml", Q_SCHEMA)
    out = str(tmp_path / "q.parquet")
    st = transfer(spark, src, out, schema_file=schema, on_violation="filter")
    assert st.rows_transferred == len(kept)
    assert sorted(r.q for r in spark.read.parquet(out).collect()) == kept


def test_declared_integer_malformed_text_names_the_column(spark, tmp_path):
    src = _write(tmp_path, "q.csv", "q,tag\n1,a\nabc,b\n")
    schema = _write(tmp_path, "q.yaml", Q_SCHEMA)
    with pytest.raises(Exception, match=r"schema violation on column 'q' .*value=abc"):
        transfer(spark, src, str(tmp_path / "q.parquet"), schema_file=schema)


def test_declared_string_columns_keep_their_text(spark, tmp_path):
    # inference would read 00501 as 501 and the date as a timestamp; a
    # declared schema replaces inference, so the text lands unchanged
    src = _write(tmp_path, "zips.csv", "zip,day,n\n00501,2024-01-01,7\n10001,2024-02-03,\n")
    schema = _write(tmp_path, "zips.yaml", "columns:\n"
                    "  - {name: zip, type: string}\n"
                    "  - {name: day, type: string}\n"
                    "  - {name: n, type: integer}\n")
    out = str(tmp_path / "zips.parquet")
    transfer(spark, src, out, schema_file=schema)
    back = spark.read.parquet(out)
    assert dict(back.dtypes) == {"zip": "string", "day": "string", "n": "bigint"}
    assert sorted(tuple(r) for r in back.collect()) == [
        ("00501", "2024-01-01", 7), ("10001", "2024-02-03", None),
    ]


@pytest.mark.parametrize("declared,jobs", [(True, 2), (False, 3)])
def test_declared_schema_skips_the_inference_job(spark, tmp_path, declared, jobs):
    # CSV -> Parquet runs the header read and the write; inference adds
    # its 1000-row sample job
    src = _write(tmp_path, "in.csv", "a,b\n1,x\n2,y\n")
    schema = _write(tmp_path, "in.yaml", "columns:\n  - {name: a, type: integer}\n"
                    "  - {name: b, type: string}\n")
    sc = spark.sparkContext
    group = f"jobs-{tmp_path.name}"
    sc.setJobGroup(group, group)
    try:
        transfer(spark, src, str(tmp_path / "out.parquet"),
                 schema_file=schema if declared else None)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == jobs


def test_session_turns_off_call_site_capture(spark, monkeypatch):
    import pyspark.errors.utils as perr

    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    # the flag is cached per process at the first Column call; recompute
    # it against the session get_spark built
    monkeypatch.setattr(perr, "_enable_debugging_cache", None)
    assert perr.is_debugging_enabled() is False


# ----------------------------------------------------------- CLI/YAML

def test_cli_yaml_job_end_to_end(spark, tmp_path, monkeypatch):
    """Twin of reference examples/13_yaml_config."""
    from tinyetl_spark.cli import main

    monkeypatch.setenv("ETL_OUT", str(tmp_path))
    csvf = tmp_path / "emp.csv"
    csvf.write_text("name,salary\nann,50000\nbob,60000\n")
    job = tmp_path / "job.yaml"
    job.write_text(
        f"""
version: 1
source:
  uri: {csvf}
target:
  uri: ${{ETL_OUT}}/emp.json
options:
  transform:
    type: script
    value: |
      -- annual -> monthly
      monthly = row.salary / 12
      band = row.salary >= 55000 and 'senior' or 'junior'
"""
    )
    rc = main(["run", str(job)])
    assert rc == 0
    data = json.load(open(tmp_path / "emp.json"))
    by_name = {d["name"]: d for d in data}
    assert by_name["bob"]["band"] == "senior"
    assert abs(by_name["ann"]["monthly"] - 50000 / 12) < 1e-6


def test_cli_preview_and_errors(tmp_path, capsys):
    from tinyetl_spark.cli import main

    assert main([]) == 2
    assert main(["run", str(tmp_path / "missing.yaml")]) == 2
    rc = main(["/root/testdata/sf0.001/region.parquet", "--preview", "2"])
    assert rc == 0
    out = capsys.readouterr().out
    assert "r_regionkey" in out


def test_cli_generate_config(capsys):
    from tinyetl_spark.cli import main

    rc = main(["generate-config", "in.csv", "out.parquet", "--transform", "b=row.a"])
    assert rc == 0
    out = capsys.readouterr().out
    assert "uri: in.csv" in out and "type: inline" in out
    rc2 = main(["generate-default-config"])
    assert rc2 == 0


# ---------------------------------------------- mode policy regressions

def test_supports_append_matches_reference_policy():
    """parquet/avro are truncate-on-exists in the reference
    (parquet.rs:508, avro.rs:651); CSV cannot append; DBs append."""
    from tinyetl_spark.engine import supports_append
    from tinyetl_spark.uris import parse_uri

    assert not supports_append(parse_uri("out.csv"))
    assert not supports_append(parse_uri("out.parquet"))
    assert not supports_append(parse_uri("out.avro"))
    assert supports_append(parse_uri("out.json"))
    assert supports_append(parse_uri("db.sqlite#t"))


def test_jdbc_targets_are_append_first(spark, tmp_path, monkeypatch):
    """Server-DB targets must never be dropped by a plain transfer
    (reference postgres.rs:503-520 appends to existing tables); --truncate
    maps to overwrite+truncate-option, not drop."""
    import tinyetl_spark.engine as engine

    seen = {}

    def fake_write(df, tgt, kind, mode="append", batchsize=10_000):
        seen["mode"] = mode
        # the engine observes the write job for its row count — run a
        # real (noop) action or transfer()'s Observation.get blocks
        df.write.format("noop").mode("overwrite").save()

    monkeypatch.setattr(engine.jio, "write", fake_write)
    src = str(tmp_path / "in.csv")
    with open(src, "w") as f:
        f.write("a,b\n1,2\n")
    engine.transfer(spark, src, "postgres://u:p@h:5432/db#t")
    assert seen["mode"] == "append"
    engine.transfer(spark, src, "postgres://u:p@h:5432/db#t", truncate=True)
    assert seen["mode"] == "overwrite"


def test_transform_boolean_truthiness(spark):
    """Lua truthiness for BOOLEAN columns: false is falsy (not just nil)
    — `row.flag and x or y` must pick y for false, and carry through
    earlier assignments referenced by name."""
    from tinyetl_spark.transforms import apply_inline

    df = spark.createDataFrame(
        [(True, 1), (False, 2), (None, 3)], "flag boolean, n int"
    )
    out = apply_inline(df, "pick=row.flag and 'yes' or 'no'; again=pick")
    rows = {r.n: (r.pick, r.again) for r in out.collect()}
    assert rows[1] == ("yes", "yes")
    assert rows[2] == ("no", "no")
    assert rows[3] == ("no", "no")


def test_transform_bool_assignment_carries_class(spark):
    """An earlier boolean ASSIGNMENT must stay falsy-when-false when
    referenced later (env carries the truthiness class)."""
    from tinyetl_spark.transforms import apply_inline

    df = spark.createDataFrame([(1,), (5,)], "a int")
    out = apply_inline(df, "big=row.a > 3; lab=big and 'hi' or 'lo'")
    rows = {r.a: r.lab for r in out.collect()}
    assert rows[1] == "lo"
    assert rows[5] == "hi"


def test_cli_query_subcommand(spark, tmp_path, capsys):
    """`query` runs any registered operator from the CLI: --list
    enumerates, NAME previews, --target writes through the same sink
    dispatch a transfer uses, unknown names are a clean rc=2."""
    from tinyetl_spark.cli import main

    assert main(["query", "--list"]) == 0
    out = capsys.readouterr().out.splitlines()
    assert "q1_pricing_summary" in out and "curation_pipeline" in out

    sf = "/root/testdata/sf0.001"
    assert main(["query", "hot_keys_audit", "--sf-dir", sf, "--preview", "5"]) == 0
    assert "o_custkey" in capsys.readouterr().out

    target = str(tmp_path / "card.json")
    assert main(["query", "corpus_stats_report", "--sf-dir", sf, "--target", target]) == 0
    import json as _json

    with open(target) as fh:
        rows = _json.load(fh)
    assert rows and {"lang", "source", "n_docs"} <= set(rows[0])

    assert main(["query", "no_such_query"]) == 2


def test_orc_roundtrip_single_file_append_and_dir(spark, tmp_path):
    """ORC through the full engine path: single-file write, read-back
    equality, the columnar truncate-on-exists engine policy (parquet
    parity), explicit io-level append, and a distributed directory
    target — all via URI dispatch."""
    from tinyetl_spark.io.files import write_orc

    src = "/root/testdata/sf0.001/region.parquet"
    out = str(tmp_path / "region.orc")
    st = transfer(spark, src, out)
    assert st.rows_transferred == 5
    orig = spark.read.parquet(src).orderBy("r_regionkey").collect()
    got = spark.read.orc(out).orderBy("r_regionkey").collect()
    assert [r.r_name for r in got] == [r.r_name for r in orig]
    # engine policy: columnar file targets truncate on exists (same as
    # parquet/avro — reference parity), so a re-transfer stays at 5
    transfer(spark, src, out)
    assert spark.read.orc(out).count() == 5
    # the io layer supports explicit single-file append (read+union)
    write_orc(spark.read.parquet(src), out, mode="append")
    assert spark.read.orc(out).count() == 10
    transfer(spark, src, out, truncate=True)
    assert spark.read.orc(out).count() == 5
    # directory target writes distributed part files (io layer — the
    # engine types targets by extension, same as parquet)
    ddir = str(tmp_path / "region_orc_dir")
    write_orc(spark.read.parquet(src), ddir)
    assert spark.read.orc(ddir).count() == 5


def test_driver_priority_names_all_registered():
    """Every _PRIORITY entry must name a registered query — a typo
    would silently burn one of the driver's 50 correctness slots (the
    _ordered helper drops unknown names without complaint)."""
    import __spark_entry__ as entry
    from tinyetl_spark.queries import QUERIES

    unknown = [n for n in entry._PRIORITY if n not in QUERIES]
    assert unknown == [], f"_PRIORITY names not in QUERIES: {unknown}"
    # the below-cut order is the driver's rotation contract: a
    # duplicate name silently shifts every later query's window slot
    # (the round-11 verdict found 6), and a missing name would fall to
    # insertion order at the dict tail instead of its vintage slot
    dupes = [n for n in set(entry._PRIORITY) if entry._PRIORITY.count(n) > 1]
    assert dupes == [], f"duplicate names in _PRIORITY: {dupes}"
    assert len(entry._PRIORITY) == len(QUERIES)
    # and the window head is exactly the never-checked + new tiers
    assert len(entry._PRIORITY) >= 50
