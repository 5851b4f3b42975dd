"""Source/sink implementations behind the URI factory.

Layout mirrors the reference's connector/protocol split
(reference src/connectors/*, src/protocols/*):

* :mod:`tinyetl_spark.io.files`   — csv / json / parquet / avro
* :mod:`tinyetl_spark.io.sqlite`  — embedded SQLite (driver-side writer)
* :mod:`tinyetl_spark.io.duckdb_io` — embedded DuckDB (driver-side writer)
* :mod:`tinyetl_spark.io.arrow_stream` — a frame as bounded Arrow batches
  on the driver, for the driver-side writers
* :mod:`tinyetl_spark.io.jdbc`    — postgres / mysql / mssql / odbc via JDBC
* :mod:`tinyetl_spark.io.staging` — http(s) / ssh fetch to a staging file
"""
