"""Sample-based schema inference with the reference's sniffing rules.

Parity (reference src/connectors/csv.rs:252-281 ``parse_value``,
src/schema.rs:461-554 ``SchemaInferer``):

* per-value sniff order: i64 → decimal (NO scientific notation —
  rust_decimal's from_str rejects it, so ``1e5`` stays a string) →
  bool (exactly ``true``/``false``, case-sensitive) → the 16-format
  date chain → empty string ⇒ NULL → string
* per-column resolve: all non-null values same type → that type;
  mixed → String; all null → String; inferred columns are ALWAYS
  nullable (src/schema.rs:549-553)
* sample size 1000 rows (src/transfer.rs:47)

Spark difference, by design: the reference re-sniffs EVERY row, so one
column can hold differently-typed values; Spark columns are statically
typed, so the inferred type is applied with ``try_cast`` — a late value
that doesn't conform becomes NULL instead of changing type mid-column
(a plain ``cast`` would fail the job under ANSI mode, Spark 4's
default). The sample is 1000 rows on the DRIVER (bounded, same as the
reference); everything after that is a distributed cast.

Inference runs only when no schema file is given: a declared schema
replaces it (``engine.transfer``), as in the reference.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from tinyetl_spark.functions.dates import parse_date_multi, py_parse_date

SAMPLE_ROWS = 1000
I64_MIN, I64_MAX = -(1 << 63), (1 << 63) - 1

_INT_RE = re.compile(r"^[+-]?[0-9]+$")
# rust_decimal::from_str: plain decimal digits, optional sign and dot —
# no exponent, no 'inf'/'nan'
_DEC_RE = re.compile(r"^[+-]?([0-9]+(\.[0-9]*)?|\.[0-9]+)$")

# TinyETL DataType names (reference src/schema.rs:12-21)
STRING, INTEGER, DECIMAL, BOOLEAN, DATE, DATETIME, JSON, NULL = (
    "string", "integer", "decimal", "boolean", "date", "datetime", "json", "null",
)


def sniff_value(value: str | None) -> str:
    """Classify one raw CSV field exactly like the reference."""
    if value is None:
        return NULL
    if _INT_RE.match(value):
        try:
            if I64_MIN <= int(value) <= I64_MAX:
                return INTEGER
        except ValueError:
            pass
    if _DEC_RE.match(value):
        return DECIMAL
    if value in ("true", "false"):
        return BOOLEAN
    if py_parse_date(value) is not None:
        return DATETIME
    if value == "":
        return NULL
    return STRING


def resolve_column(types: list[str]) -> str:
    """All-same → that type; mixed → string; all-null → string."""
    non_null = [t for t in types if t != NULL]
    if not non_null:
        return STRING
    first = non_null[0]
    return first if all(t == first for t in non_null) else STRING


@dataclass
class InferredColumn:
    name: str
    data_type: str
    nullable: bool = True  # always-nullable policy


def infer_from_string_df(df: DataFrame, sample_rows: int = SAMPLE_ROWS) -> list[InferredColumn]:
    """Infer TinyETL types from an all-string DataFrame (CSV read raw).

    Bounded driver-side sample — identical contract to the reference's
    ``infer_schema(1000)``; NOT a full scan.
    """
    sample = df.limit(sample_rows).collect()
    out = []
    for c in df.columns:
        types = [sniff_value(row[c]) for row in sample]
        out.append(InferredColumn(c, resolve_column(types)))
    return out


def coercion_expr(col_name: str, data_type: str) -> Column:
    """The distributed cast for one inferred/declared column.

    Non-conforming values become NULL (try_cast semantics) — see module
    docstring for why this differs from the reference's per-row types.
    """
    c = F.col(col_name)
    if data_type == INTEGER:
        return c.try_cast("bigint")
    if data_type == DECIMAL:
        # the reference's Decimal is lossy to f64 at every file boundary
        # (src/schema.rs:29,394) — double matches observable behavior
        return c.try_cast("double")
    if data_type == BOOLEAN:
        return (
            F.when(c == "true", F.lit(True))
            .when(c == "false", F.lit(False))
            .otherwise(F.lit(None).cast("boolean"))
        )
    if data_type in (DATE, DATETIME):
        return parse_date_multi(c)
    return c  # string / json stay raw strings


def apply_inference(df: DataFrame, columns: list[InferredColumn]) -> DataFrame:
    return df.select(*[coercion_expr(ic.name, ic.data_type).alias(ic.name) for ic in columns])
