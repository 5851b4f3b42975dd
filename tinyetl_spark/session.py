"""SparkSession factory with tuned defaults.

Local test profile: ``local[$SPARK_GRAFT_CPUS]`` single-JVM. The same
config block is what we would ship as ``spark-defaults.conf`` on a real
cluster — AQE on (runtime coalesce + skew-join handling), Arrow on for
any pandas exchange, UTC session timezone so timestamp semantics match
the reference (TinyETL stores all dates as UTC instants,
reference src/schema.rs:376-386).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_DEFAULTS = {
    # AQE: runtime re-planning — coalesces small shuffle partitions and
    # splits skewed ones; essential at 100 TB where static partition
    # counts are always wrong somewhere.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for pandas UDF / toPandas exchange (vectorized, not pickled).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # The reference treats every date as a UTC instant.
    "spark.sql.session.timeZone": "UTC",
    # Broadcast joins for dims up to 64 MB (region/nation/supplier class
    # tables stay broadcast even at large SF).
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Parquet scans: keep row-group pruning + vectorized reader on.
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.enableVectorizedReader": "true",
    # ObjectHashAggregate (collect_list/collect_set groupBys — the
    # tokenizer encode reassembly, listagg, the dedup bucket builds)
    # falls back to SORT-based aggregation after only 128 distinct
    # groups per partition by default; when AQE has coalesced the
    # shuffle to a couple of partitions, that sort serializes millions
    # of array rows in one task (measured: an 8 s encode stage
    # stalling to 150-220 s, 165 fallback events in one run). 256k
    # groups per partition hash comfortably in executor memory at our
    # partition sizing; a 100 TB run keeps the same setting and sizes
    # partitions so per-partition group counts stay below it.
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold": "262144",
    # TIMESTAMP(NANOS) parquet columns (the events table): Spark <= 4.0
    # reads them as long under this conf; Spark 4.1+ ignores it and
    # reads TIMESTAMP_NTZ natively. Harmless where ignored — loaders
    # (queries._normalize_events_ts) map both shapes to µs timestamps.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # PySpark wraps every Column/functions call in a call-site capture
    # that costs five py4j round trips per call (active-session lookup,
    # origin lookup, conf read, origin set and clear); a schema stage of
    # 8 columns paid ~1,500 of them. The cost of turning it off: the
    # "== DataFrame == ... was called from" section of a Spark error no
    # longer names the Python file:line that built the failing
    # expression. To get it back, pass extra_conf=
    # {"spark.python.sql.dataFrameDebugging.enabled": "true"} in a fresh
    # process: PySpark reads the flag once, at the first Column call,
    # and keeps it for the life of the process.
    "spark.python.sql.dataFrameDebugging.enabled": "false",
    # Compiled whole-stage and expression classes live in an LRU cache of
    # 100 entries by default. The nine query_driver queries (sf0.01, 4
    # cores) need about 220 distinct classes, so interleaved queries
    # evicted each other and every warm pass recompiled about 175 of
    # them; at 1,000 a warm pass compiles none (compile time over three
    # passes 2.2 s -> 1.2 s), and Metaspace after those passes stayed
    # at about 165 MB. A static conf: it only applies when get_spark
    # launches the JVM, so a session built elsewhere (the external
    # driver's, for __spark_entry__) keeps 100. A larger value needs a
    # registry-wide class count and a resident-memory figure to back it.
    "spark.sql.codegen.cache.maxEntries": "1000",
}


def _local_driver_memory() -> str:
    """Half the host's physical memory, in MB. A fixed heap larger than
    the host (48g on a 15 GB machine) lets the heap grow without ever
    collecting, and a second JVM beside it gets the process OOM-killed."""
    phys = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    return f"{phys // 2 // (1024 * 1024)}m"


def get_spark(
    app_name: str = "tinyetl_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    ``shuffle_partitions`` defaults to the local core count for local
    masters; on a real cluster leave it unset and let AQE coalesce from
    a higher initial value.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 4)
    master = master or f"local[{cpus}]"
    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(_DEFAULTS)
    if master.startswith("local"):
        n = cpus if "*" in master else master.split("[")[-1].rstrip("]")
        try:
            npart = int(n)
        except ValueError:
            npart = os.cpu_count() or 8
        conf.setdefault("spark.sql.shuffle.partitions", str(shuffle_partitions or npart))
        # NOTE: only takes effect when this call actually launches the
        # JVM; getOrCreate against a live session silently ignores it.
        # On a real cluster pass --driver-memory at submit time instead.
        conf.setdefault("spark.driver.memory", _local_driver_memory())
        # Dozens of distinct queries in one JVM generate enough codegen
        # classes to fill HotSpot's default 240 MB code cache — once
        # full, JIT stops compiling and expression-heavy queries run
        # interpreted (observed 10x slowdowns late in bench runs).
        conf.setdefault(
            "spark.driver.extraJavaOptions", "-XX:ReservedCodeCacheSize=1g"
        )
        conf.setdefault("spark.ui.enabled", "false")
    if shuffle_partitions:
        conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
