"""File-format sources and sinks (csv / json / parquet / avro).

Each format supports two target layouts:

* **directory dataset** (the Spark-native scale path): ``df.write``
  straight to a directory of part files — parallel, no driver
  bottleneck. This is what a 1000-executor job uses.
* **single file** (reference parity): the reference writes exactly one
  file per target (reference src/connectors/csv.rs:233-357,
  json.rs:138-297, parquet.rs:313-513). We keep the write distributed,
  then merge PART FILES (not rows) on the driver — file-level streaming
  concatenation, bounded memory, no ``collect()``.

A target path is treated as single-file iff it ends with the format's
extension (``out.csv``), as a directory otherwise (``out_csv/``).

Format behaviors matched to the reference:
* CSV sink: header row, NULL → empty string, timestamps RFC3339-style,
  append NOT supported → existing targets are truncated
  (src/connectors/csv.rs:352-356).
* JSON sink: a single JSON ARRAY of objects; append = merge with the
  existing array's rows (src/connectors/json.rs:220-240).
* JSON source: whole-file array-of-objects; nested arrays/objects are
  stringified; string fields are date-sniffed (src/connectors/json.rs:28-57).
* CSV source: all-string read + TinyETL sniffing (schema_infer).
* Avro: spark-avro module jar when present; else a pure-Python OCF
  codec — driver-side for single files, distributed (one task per part
  file) for directory datasets.
"""

from __future__ import annotations

import glob
import json as _json
import os
import shutil
import tempfile

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tinyetl_spark.functions.dates import parse_date_multi
from tinyetl_spark.schema_infer import (
    DATETIME,
    apply_inference,
    infer_from_string_df,
    sniff_value,
)

# RFC3339 with UTC offset and µs — chrono's to_rfc3339 keeps sub-second
# precision (csv.rs:258); the read-back chain parses it losslessly
RFC3339_FMT = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"


def rfc3339_col(c: Column) -> Column:
    """chrono ``to_rfc3339`` parity (csv.rs:256, json.rs:171): offset
    printed as ``+00:00`` (never ``Z``), fractional seconds omitted when
    zero and trimmed to milli/micro groups otherwise — so a midnight
    timestamp round-trips as ``2024-11-01T00:00:00+00:00`` exactly like
    the reference's committed example outputs."""
    base = F.date_format(c, "yyyy-MM-dd'T'HH:mm:ss")
    frac = F.date_format(c, "SSSSSS")
    off = F.date_format(c, "xxx")
    return F.concat(
        base,
        F.when(frac == "000000", F.lit(""))
        .when(frac.endswith("000"), F.concat(F.lit("."), F.substring(frac, 1, 3)))
        .otherwise(F.concat(F.lit("."), frac)),
        off,
    )


def is_single_file(path: str, fmt: str) -> bool:
    return path.lower().rstrip("/").endswith(f".{fmt}") or (
        fmt == "json" and path.lower().endswith((".jsonl", ".ndjson"))
    )


# ----------------------------------------------------------------- read

def read_csv(spark: SparkSession, path: str, infer: bool = True) -> DataFrame:
    """Header-aware CSV read with TinyETL type sniffing.

    csv() with no schema reads every column as string, so ``infer=False``
    returns the raw text (the transfer engine does this when a schema
    file declares the types)."""
    raw = (
        spark.read.option("header", "true")
        .option("nullValue", "")
        .option("mode", "PERMISSIVE")
        .csv(path)
    )
    if not infer:
        return raw
    return apply_inference(raw, infer_from_string_df(raw))


def read_json(spark: SparkSession, path: str, infer: bool = True) -> DataFrame:
    """Whole-file JSON array (or json-lines) with reference parity:
    nested values stringified, date-looking strings parsed."""
    head = ""
    first = sorted(glob.glob(path)) if any(ch in path for ch in "*?") else [path]
    try:
        with open(first[0], encoding="utf-8") as fh:
            head = fh.read(64).lstrip()
    except (OSError, IndexError):
        pass
    reader = spark.read
    if head.startswith("["):
        reader = reader.option("multiLine", "true")
    df = reader.json(path)
    cols = []
    for f_ in df.schema.fields:
        c = F.col(f_.name)
        if isinstance(f_.dataType, (T.StructType, T.ArrayType, T.MapType)):
            # reference collapses nested JSON to strings (json.rs:53-56)
            cols.append(F.to_json(c).alias(f_.name))
        else:
            cols.append(c.alias(f_.name))
    df = df.select(*cols)
    if not infer:
        return df
    # date-sniff string columns on a driver-side sample, like the
    # reference's per-value date_parser attempt on JSON strings
    sample = df.limit(200).collect()
    out_cols = []
    for f_ in df.schema.fields:
        if isinstance(f_.dataType, T.StringType):
            vals = [row[f_.name] for row in sample if row[f_.name] is not None]
            if vals and all(sniff_value(v) == DATETIME for v in vals):
                out_cols.append(parse_date_multi(F.col(f_.name)).alias(f_.name))
                continue
        out_cols.append(F.col(f_.name))
    return df.select(*out_cols)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def _avro_kind(dt: T.DataType) -> str:
    if isinstance(dt, (T.LongType, T.IntegerType, T.ShortType, T.ByteType)):
        return "long"
    if isinstance(dt, (T.DoubleType, T.FloatType, T.DecimalType)):
        return "double"
    if isinstance(dt, T.BooleanType):
        return "boolean"
    if isinstance(dt, T.BinaryType):
        return "bytes"
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        return "timestamp"
    return "string"


def _avro_spark_schema(kinds: list[tuple[str, str]]) -> T.StructType:
    type_map = {
        "long": T.LongType(), "int": T.LongType(), "double": T.DoubleType(),
        "float": T.DoubleType(), "boolean": T.BooleanType(),
        "bytes": T.BinaryType(), "string": T.StringType(),
        "date": T.DateType(),
    }
    fields = []
    for name, kind in kinds:
        if kind.startswith("timestamp"):
            fields.append(T.StructField(name, T.TimestampType(), True))
        else:
            fields.append(T.StructField(name, type_map.get(kind, T.StringType()), True))
    return T.StructType(fields)


def _read_avro_dir_py(spark: SparkSession, path: str) -> DataFrame:
    """Distributed jar-free directory reader: one Arrow-batched task per
    OCF part file (a part file is already ~one-partition-sized when our
    writer produced it, so per-file tasks scale without block-splitting).
    Requires ``path`` on a filesystem the executors share — true of any
    local-path source; use the spark-avro package for HDFS/S3 URIs."""
    from tinyetl_spark.io import avro_py

    files = sorted(glob.glob(os.path.join(path, "*.avro")))
    if not files:
        raise FileNotFoundError(f"no .avro part files under {path}")
    kinds = avro_py.read_header(files[0])
    schema = _avro_spark_schema(kinds)
    names = [n for n, _ in kinds]

    def _read_part(batches):
        import pyarrow as pa

        from tinyetl_spark.io import avro_py as ap

        # typed arrays built straight from the decoded python values —
        # a pandas hop here would fold real NaN doubles into nulls
        # (pandas uses NaN as ITS null sentinel)
        pa_types = {
            "long": pa.int64(), "int": pa.int64(), "double": pa.float64(),
            "float": pa.float64(), "boolean": pa.bool_(),
            "bytes": pa.binary(), "string": pa.string(), "date": pa.date32(),
        }

        def pa_type(kind: str):
            if kind.startswith("timestamp"):
                # read_file yields tz-aware UTC datetimes; a UTC-typed
                # array converts to Spark TIMESTAMP instant-exactly
                # whatever the session timezone is
                return pa.timestamp("us", tz="UTC")
            return pa_types.get(kind, pa.string())

        for b in batches:
            for p in b.column(b.schema.get_field_index("path")).to_pylist():
                own_kinds, rows = ap.read_file(p)
                if not rows:
                    continue
                # index by the FILE'S own field order — append-written
                # parts may order columns differently (KeyError =
                # honest schema drift)
                by_name = {n: i for i, (n, _) in enumerate(own_kinds)}
                kind_of = dict(own_kinds)
                cols = [
                    pa.array([r[by_name[n]] for r in rows], type=pa_type(kind_of[n]))
                    for n in names
                ]
                yield pa.RecordBatch.from_arrays(cols, names=names)

    # range-partition on a distinct index: exact one-file-per-task
    # placement (hash-partitioning path strings collides birthday-style)
    paths_df = spark.createDataFrame(
        list(enumerate(files)), "i int, path string"
    ).repartitionByRange(len(files), "i")
    return paths_df.mapInArrow(_read_part, schema=schema)


def read_avro(spark: SparkSession, path: str) -> DataFrame:
    """spark-avro when the jar is present; else the pure-Python OCF
    codec — distributed per-file tasks for directory datasets,
    driver-side for a single file (the reference's whole-file shape,
    avro.rs:105-211)."""
    try:
        return spark.read.format("avro").load(path)
    except Exception as exc:
        # fall back ONLY when the avro data source itself is absent —
        # with the jar present, a real read failure (corrupt file,
        # unsupported codec) must surface, not get retried through the
        # Python codec (mirrors write_avro's rule)
        msg = str(exc)
        if "DATA_SOURCE_NOT_FOUND" not in msg and "Failed to find" not in msg:
            raise
        from tinyetl_spark.io import avro_py

        if os.path.isdir(path):
            return _read_avro_dir_py(spark, path)
        kinds, rows = avro_py.read_file(path)
        return spark.createDataFrame(rows, _avro_spark_schema(kinds))


# ---------------------------------------------------------------- write

def _merge_part_files(tmp_dir: str, dest: str, header: str | None = None) -> None:
    """Concatenate Spark part files into one file — streams bytes,
    never materializes rows on the driver."""
    parts = sorted(glob.glob(os.path.join(tmp_dir, "part-*")))
    with open(dest, "w", encoding="utf-8") as out:
        if header is not None:
            out.write(header + "\n")
        for p in parts:
            with open(p, encoding="utf-8") as src:
                shutil.copyfileobj(src, out)


def _stringify_for_csv(df: DataFrame) -> DataFrame:
    """Reference value_to_string parity (csv.rs:250-261): timestamps →
    RFC3339, booleans → true/false, NULL → '' (writer option)."""
    cols = []
    for f_ in df.schema.fields:
        c = F.col(f_.name)
        if isinstance(f_.dataType, (T.TimestampType, T.TimestampNTZType)):
            cols.append(rfc3339_col(c).alias(f_.name))
        elif isinstance(f_.dataType, T.DateType):
            cols.append(
                F.concat(
                    F.date_format(c, "yyyy-MM-dd'T'00:00:00"), F.date_format(c, "xxx")
                ).alias(f_.name)
            )
        elif isinstance(f_.dataType, (T.StructType, T.ArrayType, T.MapType)):
            cols.append(F.to_json(c).alias(f_.name))
        elif isinstance(f_.dataType, T.BinaryType):
            # blob -> base64 text, reference duckdb.rs:293-296
            cols.append(F.base64(c).alias(f_.name))
        else:
            cols.append(c)
    return df.select(*cols)


def write_csv(df: DataFrame, path: str) -> None:
    """CSV sink. Single-file parity: headerless distributed write, then
    part-file merge under one header line. No append (reference
    supports_append=false) — callers always overwrite."""
    if not is_single_file(path, "csv"):
        (
            _stringify_for_csv(df)
            .write.mode("overwrite")
            .option("header", "true")
            .option("emptyValue", "")
            .option("nullValue", "")
            .csv(path)
        )
        return
    out = _stringify_for_csv(df)
    tmp = tempfile.mkdtemp(prefix="tinyetl_csv_")
    try:
        (
            out.write.mode("overwrite")
            .option("header", "false")
            .option("emptyValue", "")
            .option("nullValue", "")
            .csv(tmp)
        )
        header = ",".join(out.columns)
        _merge_part_files(tmp, path, header=header)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def write_parquet(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    if not is_single_file(path, "parquet"):
        df.write.mode(mode).parquet(path)
        return
    tmp = tempfile.mkdtemp(prefix="tinyetl_parquet_")
    try:
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
        if mode == "append" and os.path.exists(path):
            # single-file parquet append = read existing + union (the
            # reference buffers the whole file anyway: parquet.rs:456-464)
            spark = df.sparkSession
            merged = spark.read.parquet(path).unionByName(
                spark.read.parquet(part), allowMissingColumns=True
            )
            tmp2 = tempfile.mkdtemp(prefix="tinyetl_parquet2_")
            try:
                merged.coalesce(1).write.mode("overwrite").parquet(tmp2)
                part2 = glob.glob(os.path.join(tmp2, "part-*.parquet"))[0]
                shutil.copyfile(part2, path)
            finally:
                shutil.rmtree(tmp2, ignore_errors=True)
        else:
            shutil.copyfile(part, path)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC source (beyond the reference's format set — Spark-native
    columnar read, predicate pushdown and column pruning included)."""
    return spark.read.orc(path)


def write_orc(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """ORC sink, same single-file/directory contract as parquet:
    directory targets write distributed; a ``*.orc`` file target
    coalesces to one part and moves it into place (append = read
    existing + union, like the single-file parquet path)."""
    if not is_single_file(path, "orc"):
        df.write.mode(mode).orc(path)
        return
    tmp = tempfile.mkdtemp(prefix="tinyetl_orc_")
    try:
        df.coalesce(1).write.mode("overwrite").orc(tmp)
        part = glob.glob(os.path.join(tmp, "part-*.orc"))[0]
        if mode == "append" and os.path.exists(path):
            spark = df.sparkSession
            merged = spark.read.orc(path).unionByName(
                spark.read.orc(part), allowMissingColumns=True
            )
            tmp2 = tempfile.mkdtemp(prefix="tinyetl_orc2_")
            try:
                merged.coalesce(1).write.mode("overwrite").orc(tmp2)
                part2 = glob.glob(os.path.join(tmp2, "part-*.orc"))[0]
                shutil.copyfile(part2, path)
            finally:
                shutil.rmtree(tmp2, ignore_errors=True)
        else:
            shutil.copyfile(part, path)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _json_ready(df: DataFrame) -> DataFrame:
    """Timestamps → RFC3339 strings so JSON output matches the
    reference's date representation (json.rs:153-175)."""
    cols = []
    for f_ in df.schema.fields:
        c = F.col(f_.name)
        if isinstance(f_.dataType, (T.TimestampType, T.TimestampNTZType)):
            cols.append(rfc3339_col(c).alias(f_.name))
        elif isinstance(f_.dataType, T.DateType):
            # the reference has no bare date type — Value::Date is a
            # DateTime and serializes as midnight RFC3339 (json.rs:171)
            cols.append(
                F.concat(
                    F.date_format(c, "yyyy-MM-dd'T'00:00:00"), F.date_format(c, "xxx")
                ).alias(f_.name)
            )
        elif isinstance(f_.dataType, T.BinaryType):
            # blob -> base64 text, reference duckdb.rs:293-296
            cols.append(F.base64(c).alias(f_.name))
        else:
            cols.append(c)
    return df.select(*cols)


def write_json(df: DataFrame, path: str, append: bool = False) -> None:
    """JSON sink.

    Directory target → json-lines dataset (scale path, appendable).
    Single file → one JSON array of objects in schema column order;
    append merges with the existing array (reference json.rs:220-240).
    """
    out = _json_ready(df)
    if not is_single_file(path, "json"):
        out.write.mode("append" if append else "overwrite").json(path)
        return
    spark = df.sparkSession
    if append and os.path.exists(path):
        # append-merge: existing array rows come first, new rows after
        # (reference json.rs:220-240). Existing columns are cast to the
        # incoming schema's types where names overlap.
        existing = read_json(spark, path, infer=False)
        target_types = {f_.name: f_.dataType for f_ in out.schema.fields}
        aligned = existing.select(
            *[
                (F.col(c).cast(target_types[c]) if c in target_types else F.col(c)).alias(c)
                for c in existing.columns
            ]
        )
        out = aligned.unionByName(out, allowMissingColumns=True)
    tmp = tempfile.mkdtemp(prefix="tinyetl_json_")
    try:
        out.write.mode("overwrite").json(tmp)
        parts = sorted(glob.glob(os.path.join(tmp, "part-*")))
        with open(path, "w", encoding="utf-8") as fh:
            fh.write("[\n")
            first = True
            for p in parts:
                with open(p, encoding="utf-8") as src:
                    for line in src:
                        line = line.strip()
                        if not line:
                            continue
                        if not first:
                            fh.write(",\n")
                        # pretty-print each object (reference writes a
                        # pretty array: json.rs:276-278)
                        fh.write(_json.dumps(_json.loads(line), indent=2))
                        first = False
            fh.write("\n]\n")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _write_avro_dir_py(df: DataFrame, path: str, mode: str) -> int:
    """Distributed jar-free directory writer: every task streams its own
    partition through the pure-Python OCF codec into a uniquely-named
    part file — no driver collect, parallelism = input partitions.
    Same session-timezone caveat as the driver fallback (naive
    timestamps are written as-is; the engine pins UTC). Requires
    ``path`` on a filesystem all executors share — true of any
    local-path sink; use the spark-avro package for HDFS/S3 URIs."""
    import uuid as _uuid

    fields = [(f.name, _avro_kind(f.dataType)) for f in df.schema.fields]
    names = [n for n, _ in fields]
    if mode == "overwrite":
        shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path, exist_ok=True)
    # one job-scope id minted on the DRIVER: final part names are
    # deterministic per partition, so a retried/speculative task attempt
    # replaces its twin's file instead of accumulating a duplicate
    job_id = _uuid.uuid4().hex[:8]

    def _write_part(batches):
        import uuid

        import pyarrow as pa

        from pyspark import TaskContext

        from tinyetl_spark.io import avro_py as ap

        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx is not None else 0

        def _rows():
            # Arrow batches, not pandas: int64-with-nulls stays int64
            # (pandas would widen to float64 and corrupt ids > 2^53)
            # and null is distinct from a real NaN double, which the
            # single-file writer preserves and this writer must too
            for b in batches:
                cols = [b.column(b.schema.get_field_index(n)).to_pylist() for n in names]
                yield from zip(*cols)

        # commit protocol: write to an attempt-unique temp name, then
        # os.replace() onto the deterministic final name — a task that
        # dies mid-write leaves only a .tmp (ignored by read_avro's
        # *.avro glob), and duplicate attempts atomically overwrite
        final = os.path.join(path, f"part-{job_id}-{pid:05d}.avro")
        tmp = final + f".{uuid.uuid4().hex[:8]}.tmp"
        try:
            n = ap.write_file(tmp, fields, _rows())
            os.replace(tmp, final)
        finally:
            if os.path.exists(tmp):
                os.remove(tmp)
        yield pa.RecordBatch.from_pydict({"n": [n]})

    total = (
        df.mapInArrow(_write_part, schema="n long")
        .agg(F.sum("n").alias("n"))
        .collect()[0]["n"]
    )
    return int(total or 0)


def write_avro(df: DataFrame, path: str, mode: str = "overwrite") -> int | None:
    """spark-avro for directory datasets when the jar is present; else a
    distributed pure-Python OCF writer (one part file per task). Single
    files use the driver-side codec — nullable-union record schema with
    timestamp-micros, like the reference's writer (avro.rs:408-481).
    Returns rows written on the fallback paths."""
    if mode not in ("overwrite", "append", "error", "errorifexists", "ignore"):
        raise ValueError(f"unsupported write mode: {mode!r}")
    if not is_single_file(path, "avro"):
        try:
            df.write.mode(mode).format("avro").save(path)
            return None
        except Exception as exc:
            # fall back ONLY on "no avro data source" (jar absent) —
            # with the jar present a real write failure must surface,
            # not get silently re-run through the Python codec
            msg = str(exc)
            if "DATA_SOURCE_NOT_FOUND" not in msg and "Failed to find" not in msg:
                raise
            # the jar-path save() raised before honoring mode — enforce
            # the same semantics here (the jar raises on ANY existing
            # path, including an empty directory or a plain file)
            exists = os.path.exists(path)
            if mode in ("error", "errorifexists") and exists:
                raise FileExistsError(f"path already exists: {path}") from None
            if mode == "ignore" and exists:
                return 0
            return _write_avro_dir_py(df, path, mode)
    try:
        tmp = tempfile.mkdtemp(prefix="tinyetl_avro_")
        try:
            df.coalesce(1).write.mode("overwrite").format("avro").save(tmp)
            part = glob.glob(os.path.join(tmp, "part-*.avro"))[0]
            shutil.copyfile(part, path)
            return None
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    except RuntimeError:
        raise
    except Exception:
        from tinyetl_spark.io import avro_py

        fields = [(f.name, _avro_kind(f.dataType)) for f in df.schema.fields]
        return avro_py.write_file(
            path, fields, (tuple(r) for r in df.toLocalIterator(prefetchPartitions=True))
        )
