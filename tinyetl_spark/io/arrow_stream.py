"""A DataFrame's rows on the driver as Arrow record batches, one
partition at a time.

Driver-side sinks (SQLite, DuckDB) consume this instead of
``toLocalIterator``. The executors encode each partition as Arrow
record batches (``spark.sql.execution.arrow.maxRecordsPerBatch`` rows
at most), so the driver never unpickles a ``Row``. Spark runs one job
per partition and prefetches only the next one, the same bound as
``toLocalIterator(prefetchPartitions=True)``: at most two partitions
are on the driver at once.

PySpark has no public API with that bound (``toArrow`` collects the
whole result), so this goes through Spark-internal entry points:
``Dataset.toArrowBatchRdd``, ``PythonRDD.toLocalIteratorAndServe``
and ``pyspark.util._local_iterator_from_socket``. If a Spark upgrade
moves them, this fails with an ``AttributeError`` or ``ImportError``;
there is no fallback, and ``tests/test_driver_sinks.py`` exercises
them.
"""

from __future__ import annotations

from typing import Iterator

import pyarrow as pa
from pyspark.serializers import NoOpSerializer
from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.traceback_utils import SCCallSiteSync
from pyspark.util import _local_iterator_from_socket


def iter_batches(df: DataFrame) -> Iterator[pa.RecordBatch]:
    """Yield ``df``'s rows as Arrow batches, partition by partition, in
    partition order. The first batch starts the first job."""
    spark = df.sparkSession
    sc = spark.sparkContext
    schema = to_arrow_schema(
        df.schema, prefers_large_types=spark._jconf.arrowUseLargeVarTypes()
    )
    with SCCallSiteSync(sc):
        sock_info = sc._jvm.PythonRDD.toLocalIteratorAndServe(df._jdf.toArrowBatchRdd(), True)
    # each message is one IPC-encoded record batch without its schema
    for message in _local_iterator_from_socket(sock_info, NoOpSerializer()):
        yield pa.ipc.read_record_batch(pa.py_buffer(message), schema)
