"""Schema-file validation: YAML declaration → enforcement stage.

Parity with the reference's SchemaFile (reference src/schema.rs:63-306,
applied pre-transform in src/transfer.rs:154-159):

* per column: ``name``, ``type`` (string|integer|decimal|boolean|date|
  datetime|json), ``nullable``, optional regex ``pattern``, optional
  ``default``
* null in a non-nullable column → fill the default if declared, else
  VIOLATION (schema.rs:152-165)
* type mismatch → VIOLATION (schema.rs:224-230); string→boolean
  coercion accepts true/false/1/0/yes/no (README.md:664,681)
* ``pattern`` mismatch → VIOLATION (schema.rs:233-241); NULLs skip the
  pattern check
* json-typed strings must parse (schema.rs:168-189)

The whole stage is Column expressions fused into the scan — one pass,
no UDFs. Violation handling:

* ``error``      — first violating row fails the job with a message
                   naming column + rule (reference behavior: the
                   transfer stops with a clear error)
* ``filter``     — drop violating rows
* ``quarantine`` — use :meth:`SchemaFile.split` to get (good, bad)
"""

from __future__ import annotations

from dataclasses import dataclass

import yaml

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tinyetl_spark.functions.dates import parse_date_multi

VALID_TYPES = {"string", "integer", "decimal", "boolean", "date", "datetime", "json"}


class SchemaValidationError(ValueError):
    pass


@dataclass
class ColumnRule:
    name: str
    data_type: str
    nullable: bool = True
    pattern: str | None = None
    default: object | None = None


@dataclass
class SchemaFile:
    columns: list[ColumnRule]

    @classmethod
    def from_file(cls, path: str) -> "SchemaFile":
        with open(path, encoding="utf-8") as fh:
            raw = yaml.safe_load(fh)
        return cls.from_dict(raw)

    @classmethod
    def from_dict(cls, raw: dict) -> "SchemaFile":
        cols = raw.get("columns")
        if not cols:
            raise SchemaValidationError("schema file needs a 'columns' list")
        rules = []
        for c in cols:
            dt = str(c.get("type", "")).lower()
            if dt not in VALID_TYPES:
                raise SchemaValidationError(
                    f"column {c.get('name')!r}: invalid type {dt!r} "
                    f"(expected one of {sorted(VALID_TYPES)})"
                )
            rules.append(
                ColumnRule(
                    name=c["name"],
                    data_type=dt,
                    nullable=bool(c.get("nullable", True)),
                    pattern=c.get("pattern"),
                    default=c.get("default"),
                )
            )
        return cls(rules)

    # ---------------------------------------------------------- build

    def _coerced(self, df: DataFrame, rule: ColumnRule) -> Column:
        """Cast toward the declared type (None where not representable)."""
        if rule.name not in df.columns:
            return F.lit(None).cast(_spark_type(rule.data_type))
        c = F.col(rule.name)
        src = dict(zip(df.columns, [f.dataType for f in df.schema.fields]))[rule.name]
        dt = rule.data_type
        if dt == "string":
            return c.cast("string")
        # try_cast: a malformed value becomes NULL and is reported as a
        # type violation, where ANSI mode's cast would fail the job
        if dt == "integer":
            return c.try_cast("bigint")
        if dt == "decimal":
            return c.try_cast("double")
        if dt == "boolean":
            if isinstance(src, T.StringType):
                lowered = F.lower(c)
                return (
                    F.when(lowered.isin("true", "1", "yes"), F.lit(True))
                    .when(lowered.isin("false", "0", "no"), F.lit(False))
                    .otherwise(F.lit(None).cast("boolean"))
                )
            return c.try_cast("boolean")
        if dt in ("date", "datetime"):
            if isinstance(src, (T.TimestampType, T.TimestampNTZType, T.DateType)):
                return c.cast("timestamp")
            return parse_date_multi(c.cast("string"))
        if dt == "json":
            return c.cast("string")
        raise SchemaValidationError(f"unhandled type {dt}")

    def _default_lit(self, rule: ColumnRule) -> Column | None:
        if rule.default is None:
            return None
        dt = rule.data_type
        if dt in ("date", "datetime"):
            return parse_date_multi(F.lit(str(rule.default)))
        if dt == "json":
            return F.lit(rule.default if isinstance(rule.default, str) else str(rule.default))
        return F.lit(rule.default).cast(_spark_type(dt))

    def _violation(self, df: DataFrame, rule: ColumnRule, coerced: Column) -> Column:
        """Boolean column: true ⇒ this row violates this rule."""
        bad = F.lit(False)
        raw_present = rule.name in df.columns
        raw = F.col(rule.name) if raw_present else F.lit(None)
        # type violation: raw non-null but coerced null
        if raw_present:
            bad = bad | (raw.isNotNull() & coerced.isNull())
        # json must parse (objects/arrays/literals all satisfy get_json_object('$'))
        if rule.data_type == "json" and raw_present:
            bad = bad | (raw.isNotNull() & F.get_json_object(coerced, "$").isNull())
        # non-null enforcement when no default fills it
        if not rule.nullable and rule.default is None:
            bad = bad | coerced.isNull() if raw_present else F.lit(True)
        # pattern on the string form; nulls skip
        if rule.pattern:
            s = coerced.cast("string")
            bad = bad | (s.isNotNull() & ~s.rlike(rule.pattern))
        return bad

    # ---------------------------------------------------------- apply

    def apply(self, df: DataFrame, on_violation: str = "error") -> DataFrame:
        """Validate + coerce; declared column order defines the output
        (the reference's schema drives target column order)."""
        if on_violation not in ("error", "filter"):
            raise SchemaValidationError("on_violation must be 'error' or 'filter'")
        selects, any_bad = [], F.lit(False)
        msgs: list[Column] = []
        for rule in self.columns:
            coerced = self._coerced(df, rule)
            default = self._default_lit(rule)
            bad = self._violation(df, rule, coerced)
            any_bad = any_bad | bad
            selects.append(coerced if default is None else F.coalesce(coerced, default))
            if on_violation == "filter":
                continue
            msgs.append(
                F.when(
                    bad,
                    F.concat(
                        F.lit(f"schema violation on column '{rule.name}' "
                              f"(type={rule.data_type}"
                              + (f", pattern={rule.pattern}" if rule.pattern else "")
                              + (", non-null" if not rule.nullable else "")
                              + "): value="),
                        F.coalesce(
                            (F.col(rule.name).cast("string")
                             if rule.name in df.columns else F.lit(None)),
                            F.lit("NULL"),
                        ),
                    ),
                )
            )
        if on_violation == "filter":
            df = df.filter(~any_bad)
        else:
            # error mode: the first output column carries the guard — CASE
            # branches are lazy, so raise_error fires only on a violating
            # row, inside the same codegen pass (no second scan).
            msg = F.coalesce(*msgs, F.lit("schema violation"))
            selects[0] = F.when(any_bad, F.raise_error(msg)).otherwise(selects[0])
        return df.select(*[v.alias(r.name) for v, r in zip(selects, self.columns)])

    def split(self, df: DataFrame) -> tuple[DataFrame, DataFrame]:
        """Quarantine mode: (valid rows coerced, violating raw rows)."""
        any_bad = F.lit(False)
        for rule in self.columns:
            any_bad = any_bad | self._violation(df, rule, self._coerced(df, rule))
        marked = df.withColumn("_bad", any_bad)
        good = self.apply(marked.filter(~F.col("_bad")).drop("_bad"), on_violation="filter")
        bad = marked.filter(F.col("_bad")).drop("_bad")
        return good, bad


def _spark_type(dt: str) -> T.DataType:
    return {
        "string": T.StringType(),
        "integer": T.LongType(),
        "decimal": T.DoubleType(),
        "boolean": T.BooleanType(),
        "date": T.TimestampType(),
        "datetime": T.TimestampType(),
        "json": T.StringType(),
    }[dt]
