"""Connection-string parsing and connector dispatch.

Parity with the reference's factory (reference src/connectors/mod.rs:67-206
and src/protocols/mod.rs:52-100, file protocol src/protocols/file.rs:21-100):

* extension dispatch: ``.csv`` ``.json`` ``.parquet`` ``.avro``
* embedded DBs: ``*.db[#table]`` / ``sqlite:path`` / ``sqlite://path`` and
  ``*.duckdb[#table]`` / ``duckdb:path`` / ``duckdb://path``
* server DBs by scheme: ``postgres://`` ``postgresql://`` ``mysql://``
  ``mssql://`` ``sqlserver://`` ``odbc://`` ``snowflake://``
* transports: ``file://`` ``http://`` ``https://`` ``ssh://``
* ``#fragment`` names the table, else a server DB's ``table=`` query
  parameter; files default to the file stem.

The result is a plain :class:`Location` — the Spark side maps it onto a
DataFrameReader/Writer instead of boxed Source/Target trait objects.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from urllib.parse import parse_qs, urlsplit

FILE_KINDS = {"csv", "json", "parquet", "avro", "orc"}
EMBEDDED_DB_KINDS = {"sqlite", "duckdb"}
SERVER_DB_KINDS = {"postgres", "mysql", "mssql", "odbc", "snowflake", "derby"}
TRANSPORT_KINDS = {"http", "ssh"}

_EXT_TO_KIND = {
    ".csv": "csv",
    ".json": "json",
    ".jsonl": "json",
    ".ndjson": "json",
    ".parquet": "parquet",
    ".avro": "avro",
    ".orc": "orc",
    ".db": "sqlite",
    ".sqlite": "sqlite",
    ".sqlite3": "sqlite",
    ".duckdb": "duckdb",
}

_SCHEME_TO_KIND = {
    "postgres": "postgres",
    "postgresql": "postgres",
    "mysql": "mysql",
    "mssql": "mssql",
    "sqlserver": "mssql",
    "odbc": "odbc",
    "snowflake": "snowflake",
    "http": "http",
    "https": "http",
    "ssh": "ssh",
    "sqlite": "sqlite",
    "duckdb": "duckdb",
    # Embedded Apache Derby, driven through the REAL Spark JDBC
    # reader/writer — its jars ship inside every Spark distribution, so
    # this is the one JDBC path we can exercise live without vendoring
    # drivers. derby:///path/to/db#table
    "derby": "derby",
}


class UnsupportedUriError(ValueError):
    """Raised for connection strings neither factory understands —
    mirrors the reference's Configuration error listing supported forms."""


@dataclass
class Location:
    """A resolved connection string."""

    kind: str                      # csv|json|parquet|avro|sqlite|duckdb|postgres|...
    path: str                      # local path, or full URL for server DBs / http / ssh
    table: str | None = None       # '#fragment', else file stem for DB-ish targets
    options: dict[str, str] = field(default_factory=dict)
    raw: str = ""

    @property
    def table_name(self) -> str:
        """Table name with the reference's fallback: explicit fragment,
        else the file stem (reference src/transfer.rs:370-381)."""
        if self.table:
            return self.table
        stem = os.path.basename(self.path.split("?", 1)[0].rstrip("/"))
        return stem.split(".")[0] if stem else "data"


def _split_fragment(s: str) -> tuple[str, str | None]:
    if "#" in s:
        base, frag = s.rsplit("#", 1)
        return base, (frag or None)
    return s, None


def parse_uri(
    uri: str,
    format_hint: str | None = None,
    options: dict[str, str] | None = None,
) -> Location:
    """Resolve a TinyETL-style connection string into a Location.

    ``format_hint`` mirrors ``--source-type``: it overrides extension
    dispatch (needed for http downloads without a telling extension).
    """
    options = dict(options or {})
    raw = uri

    if "://" in uri:
        scheme = uri.split("://", 1)[0].lower()
        if scheme == "file":
            rest = uri.split("://", 1)[1]
            base, table = _split_fragment(rest)
            return _from_path(base, table, format_hint, options, raw)
        kind = _SCHEME_TO_KIND.get(scheme)
        if kind is None:
            raise UnsupportedUriError(
                f"Unsupported protocol in: {uri}. Supported protocols: file://, "
                f"http(s)://, ssh://, sqlite://, duckdb://, postgres://, mysql://, "
                f"mssql://, sqlserver://, odbc://, snowflake://"
            )
        if kind in EMBEDDED_DB_KINDS:
            rest = uri.split("://", 1)[1]
            base, table = _split_fragment(rest)
            return Location(kind, base, table, options, raw)
        if kind == "http":
            base, table = _split_fragment(uri)
            inner = format_hint or _ext_kind(base)
            if inner is not None and inner not in FILE_KINDS:
                raise UnsupportedUriError(f"http source must resolve to a file format, got {inner}")
            options.setdefault("format", inner or "")
            return Location("http", base, table, options, raw)
        if kind == "ssh":
            base, table = _split_fragment(uri)
            inner = format_hint or _ext_kind(base)
            options.setdefault("format", inner or "")
            return Location("ssh", base, table, options, raw)
        # server DBs keep the full URL (minus fragment) as the connect
        # string; a table= query parameter names the table, as in the
        # reference's snowflake://.../db/schema?warehouse=WH&table=T
        base, table = _split_fragment(uri)
        if table is None:
            table = parse_qs(urlsplit(base).query).get("table", [None])[0]
        return Location(kind, base, table, options, raw)

    # 'sqlite:path' / 'duckdb:path' single-colon prefixes
    for prefix in ("sqlite:", "duckdb:"):
        if uri.startswith(prefix):
            base, table = _split_fragment(uri[len(prefix):])
            return Location(prefix[:-1], base, table, options, raw)

    base, table = _split_fragment(uri)
    return _from_path(base, table, format_hint, options, raw)


def _ext_kind(path: str) -> str | None:
    name = path.lower().rstrip("/")
    for ext, kind in _EXT_TO_KIND.items():
        if name.endswith(ext):
            return kind
    return None


def _from_path(
    path: str, table: str | None, format_hint: str | None, options: dict, raw: str
) -> Location:
    kind = format_hint or _ext_kind(path)
    if kind is None:
        # extensionless path: treat as a directory dataset if it exists /
        # is requested with an explicit hint; else mirror the reference's
        # configuration error.
        raise UnsupportedUriError(
            f"Unsupported source/target type: {raw}. Supported formats: file.csv, "
            f"file.json, file.parquet, file.avro, file.orc, file.db#table, file.duckdb#table, "
            f"plus scheme-based DB/transport URLs (pass format_hint/--source-type "
            f"for extensionless paths)"
        )
    return Location(kind, path, table, options, raw)
