"""The transfer engine: source → [validate] → [transform] → sink.

Spark twin of the reference's pipeline (reference src/transfer.rs:23-199).
The reference pulls row batches through a loop; here the entire pipeline
is ONE declarative DataFrame plan ending in a write action — Catalyst
fuses the stages, the scan/validate/transform run inside whole-stage
codegen, and the row count is collected via ``Observation`` (a metric on
the write job itself — no second pass, no ``collect()``).

Mode policy parity (src/transfer.rs:92-118): target exists + truncate →
truncate+recreate; exists + supports append → append; exists, no append
support (CSV) → truncate; missing → create.

Preview (src/transfer.rs:201-316): print schema + first N rows, 15-char
cells, no write. Dry-run (src/transfer.rs:318-368): validate the plan,
test the transform on ≤10 rows, report target existence — no writes.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from tinyetl_spark.io import files as fio
from tinyetl_spark.io import jdbc as jio
from tinyetl_spark.io import sqlite as sio
from tinyetl_spark.io import staging
from tinyetl_spark.uris import FILE_KINDS, Location, UnsupportedUriError, parse_uri


@dataclass
class TransferStats:
    """Parity with the reference's TransferStats (src/transfer.rs:15-20)."""

    rows_transferred: int
    duration_seconds: float
    columns: list[str] = field(default_factory=list)

    @property
    def rows_per_sec(self) -> float:
        return self.rows_transferred / self.duration_seconds if self.duration_seconds else 0.0


# ------------------------------------------------------------- sources

def read_source(spark: SparkSession, loc: Location, infer: bool = True) -> DataFrame:
    if loc.kind == "csv":
        return fio.read_csv(spark, loc.path, infer=infer)
    if loc.kind == "json":
        return fio.read_json(spark, loc.path, infer=infer)
    if loc.kind == "parquet":
        return fio.read_parquet(spark, loc.path)
    if loc.kind == "avro":
        return fio.read_avro(spark, loc.path)
    if loc.kind == "orc":
        return fio.read_orc(spark, loc.path)
    if loc.kind == "sqlite":
        return sio.read_table(spark, loc.path, loc.table_name)
    if loc.kind == "duckdb":
        from tinyetl_spark.io import duckdb_io

        return duckdb_io.read_table(spark, loc.path, loc.table_name)
    if loc.kind == "snowflake":
        from tinyetl_spark.io import snowflake_mock

        return snowflake_mock.read_table(spark, loc.path, loc.table_name)
    if loc.kind == "http":
        staged = staging.http_fetch(loc.path, loc.options)
        inner = loc.options.get("format") or ""
        if not inner:
            raise UnsupportedUriError(
                f"http source needs a file extension or --source-type: {loc.raw}"
            )
        return read_source(spark, Location(inner, staged, loc.table), infer=infer)
    if loc.kind == "ssh":
        staged = staging.ssh_fetch(loc.path, loc.options)
        inner = loc.options.get("format") or ""
        if not inner:
            raise UnsupportedUriError(
                f"ssh source needs a file extension or --source-type: {loc.raw}"
            )
        return read_source(spark, Location(inner, staged, loc.table), infer=infer)
    if loc.kind == "odbc":
        # no JDBC-ODBC bridge exists on modern JVMs — ODBC runs through
        # the driver-side pyodbc connector (reference odbc.rs parity)
        from tinyetl_spark.io import odbc_io

        return odbc_io.read_table(spark, _odbc_uri(loc))
    if loc.kind in ("postgres", "mysql", "mssql", "derby"):
        tgt = jio.build_jdbc(loc.kind, loc.path, loc.table)
        return jio.read(
            spark,
            tgt,
            partition_column=loc.options.get("partition_column"),
            query=loc.options.get("query"),
        )
    raise UnsupportedUriError(f"Unsupported source: {loc.raw}")


def _odbc_uri(loc: Location) -> str:
    """Rebuild the canonical ``odbc://conn#table`` form whether the
    fragment survived in ``path`` or was split into ``table``."""
    conn = loc.path.split("://", 1)[-1].split("#")[0]
    return f"odbc://{conn}#{loc.table_name}"


# --------------------------------------------------------------- sinks

def target_exists(loc: Location) -> bool:
    import os

    if loc.kind in FILE_KINDS:
        return os.path.exists(loc.path)
    if loc.kind == "sqlite":
        return sio.table_exists(loc.path, loc.table_name)
    if loc.kind == "duckdb":
        from tinyetl_spark.io import duckdb_io

        return duckdb_io.table_exists(loc.path, loc.table_name)
    # server DBs: existence can't be probed without a live connection;
    # transfer() handles them append-first instead (see mode policy).
    return False


def supports_append(loc: Location) -> bool:
    """CSV cannot append (headers would repeat mid-file —
    src/connectors/csv.rs:352-356); parquet and avro targets are
    truncate-on-exists in the reference (parquet.rs:508, avro.rs:651) —
    matching that also keeps policy and behavior agreed for single-file
    avro, whose writer rewrites the file whole. Single-file JSON merges;
    embedded/server DBs append natively."""
    return loc.kind not in ("csv", "parquet", "avro", "orc")


def write_target(df: DataFrame, loc: Location, append: bool) -> int | None:
    """Write df to the target. Returns a row count for DRIVER-side sinks
    (which count as they stream); Spark-native sinks return None and the
    engine reads the count from its write-job Observation instead."""
    if loc.kind == "csv":
        fio.write_csv(df, loc.path)
    elif loc.kind == "json":
        fio.write_json(df, loc.path, append=append)
    elif loc.kind == "parquet":
        fio.write_parquet(df, loc.path, mode="append" if append else "overwrite")
    elif loc.kind == "avro":
        return fio.write_avro(df, loc.path, mode="append" if append else "overwrite")
    elif loc.kind == "orc":
        fio.write_orc(df, loc.path, mode="append" if append else "overwrite")
    elif loc.kind == "sqlite":
        return sio.write_table(df, loc.path, loc.table_name, truncate=not append)
    elif loc.kind == "duckdb":
        from tinyetl_spark.io import duckdb_io

        return duckdb_io.write_table(df, loc.path, loc.table_name, truncate=not append)
    elif loc.kind == "snowflake":
        from tinyetl_spark.io import snowflake_mock

        snowflake_mock.write_table(df, loc.path, loc.table_name)
    elif loc.kind == "odbc":
        from tinyetl_spark.io import odbc_io

        return odbc_io.write_table(df, _odbc_uri(loc), truncate=not append)
    elif loc.kind in ("postgres", "mysql", "mssql", "derby"):
        tgt = jio.build_jdbc(loc.kind, loc.path, loc.table)
        jio.write(df, tgt, loc.kind, mode="append" if append else "overwrite")
    elif loc.kind == "http":
        # explicit unsupported, like the reference (src/protocols/http.rs:173-183)
        raise UnsupportedUriError("HTTP targets are not supported")
    else:
        raise UnsupportedUriError(f"Unsupported target: {loc.raw}")
    return None


# -------------------------------------------------------------- engine

def transfer(
    spark: SparkSession,
    source: str,
    target: str | None = None,
    *,
    transform: str | None = None,
    transform_file: str | None = None,
    schema_file: str | None = None,
    source_type: str | None = None,
    source_options: dict[str, str] | None = None,
    truncate: bool = False,
    preview: int | None = None,
    dry_run: bool = False,
    on_violation: str = "error",
) -> TransferStats:
    """Run one transfer. Returns stats; raises on config/validation errors.

    The schema comes from ``schema_file`` or from inference, never both
    (reference src/transfer.rs:38-48): with a declared schema, CSV and
    JSON sources are read raw and the declared casts (``try_cast``
    semantics) read the source text, so no sample job runs and declared
    ``string`` columns keep their text (``00501`` stays ``00501``).
    """
    t0 = time.perf_counter()
    src = parse_uri(source, format_hint=source_type, options=source_options)
    df = read_source(spark, src, infer=not schema_file)

    if schema_file:
        from tinyetl_spark.validate import SchemaFile

        df = SchemaFile.from_file(schema_file).apply(df, on_violation=on_violation)

    if transform_file and transform:
        # file beats inline, with a warning (reference src/main.rs:178-193)
        import sys

        print("warning: --transform-file overrides --transform", file=sys.stderr)
        transform = None
    if transform_file:
        from tinyetl_spark.transforms import compile_lua_file

        df = compile_lua_file(df, transform_file)
    elif transform:
        from tinyetl_spark.transforms import apply_inline

        df = apply_inline(df, transform)

    if preview is not None:
        _print_preview(df, preview)
        return TransferStats(0, time.perf_counter() - t0, df.columns)

    if target is None:
        raise UnsupportedUriError("target required unless --preview is set")
    tgt = parse_uri(target)

    if dry_run:
        _dry_run(df, tgt)
        return TransferStats(0, time.perf_counter() - t0, df.columns)

    # mode policy (src/transfer.rs:92-118)
    if tgt.kind in ("postgres", "mysql", "mssql", "odbc", "derby"):
        # Server DBs are append-first like the reference
        # (postgres.rs:503-520): existing tables are appended to, never
        # dropped; JDBC SaveMode 'append' also creates missing tables.
        # --truncate maps to overwrite+truncate (TRUNCATE TABLE, DDL
        # preserved — jio.write sets the option), not drop+recreate.
        append = not truncate
    else:
        exists = target_exists(tgt)
        if exists and truncate:
            append = False
        elif exists and supports_append(tgt):
            append = True
        else:
            append = False  # missing, or exists-but-no-append → recreate

    if tgt.kind in ("sqlite", "duckdb", "avro", "odbc"):
        # driver-side sinks stream the frame to the driver themselves
        # (Arrow batches for sqlite/duckdb, toLocalIterator for odbc and
        # the Python avro codec) and count the rows they write; an
        # Observation would never resolve for that execution shape.
        # (avro may take the spark-native path and return None → count.)
        rows = write_target(df, tgt, append=append)
        if rows is None:
            rows = df.count()
    else:
        obs = Observation("transfer_stats")
        df = df.observe(obs, F.count(F.lit(1)).alias("rows"))
        write_target(df, tgt, append=append)
        rows = int(obs.get["rows"])
    return TransferStats(rows, time.perf_counter() - t0, df.columns)


def _print_preview(df: DataFrame, n: int) -> None:
    """Schema table + first N rows, cells truncated to 15 chars
    (reference src/transfer.rs:201-316)."""
    print("Schema:")
    for f_ in df.schema.fields:
        print(f"  {f_.name}: {f_.dataType.simpleString()} "
              f"{'NULL' if f_.nullable else 'NOT NULL'}")
    df.show(n, truncate=15)


def _dry_run(df: DataFrame, tgt: Location) -> None:
    """Plan-only validation: resolve the plan, run the transform on a
    ≤10-row sample, report target existence. No writes."""
    _ = df.schema  # forces analysis — any invalid expression throws here
    sample = df.limit(10).collect()
    exists = target_exists(tgt)
    print(f"dry-run: plan OK, {len(df.columns)} columns, "
          f"sample rows transformed: {len(sample)}, "
          f"target exists: {exists}")
