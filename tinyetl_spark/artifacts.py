"""One store for the artifacts queries share: trained models, scored
tables, file schemas and staged Parquet tables, each built once and
then reused.

Every entry is keyed by ``(applicationId, name, *key)``. An entry may
hold localCheckpoint references, which live only as long as their
SparkContext, so a miss drops the entries of every other applicationId:
a restarted context builds afresh, and a stopped one's checkpoints are
not pinned for the life of the process.

Each access appends ``(kind, name, seconds)`` to ``EVENTS``. ``kind``
is ``"build"`` with the seconds the build took, or ``"hit"`` with the
seconds the entry took to build, i.e. what the hit saved. The log keeps
the last ``EVENTS_MAXLEN`` accesses; ``drain_events`` empties it, so a
caller can label each run as one that built a shared artifact or one
that reused it. Query code never reads the log.
"""

from __future__ import annotations

import atexit
import hashlib
import os
import shutil
import tempfile
import time
from collections import deque
from collections.abc import Callable
from typing import TypeVar

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

V = TypeVar("V")

EVENTS_MAXLEN = 1024
EVENTS: deque[tuple[str, str, float]] = deque(maxlen=EVENTS_MAXLEN)
_ENTRIES: dict[tuple, tuple[object, float]] = {}


def memo(spark: SparkSession, name: str, key: tuple, build: Callable[[], V]) -> V:
    """The value ``build()`` returned for ``(name, *key)`` under this
    SparkContext, built on the first access."""
    app = spark.sparkContext.applicationId
    full_key = (app, name, *key)
    entry = _ENTRIES.get(full_key)
    if entry is not None:
        EVENTS.append(("hit", name, entry[1]))
        return entry[0]
    for stale in [k for k in _ENTRIES if k[0] != app]:
        del _ENTRIES[stale]
    t0 = time.perf_counter()
    value = build()
    seconds = time.perf_counter() - t0
    _ENTRIES[full_key] = (value, seconds)
    EVENTS.append(("build", name, seconds))
    return value


def drain_events() -> list[tuple[str, str, float]]:
    """Remove and return the logged accesses, oldest first."""
    out = []
    while EVENTS:
        out.append(EVENTS.popleft())
    return out


def file_version(sf_dir: str, table: str) -> tuple | None:
    """``(path, st_mtime_ns, st_size)`` of a table's file, so a
    rewritten file is a new artifact key; None where ``os.stat`` cannot
    reach the path (a remote URL)."""
    path = f"{sf_dir}/{table}.parquet"
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (path, st.st_mtime_ns, st.st_size)


def staged_path(sf_dir: str, name: str, version_key: str) -> str:
    """Where ``staged`` keeps a table. The name embeds a hash of
    ``version_key`` (each caller passes its oracle-SQL twin, which
    encodes every constant of the producing pipeline) and of the
    ``file_version`` of every ``*.parquet`` entry directly under
    ``sf_dir``, so a code change or a rewritten input stages a new
    table instead of silently reusing stale data. A directory
    ``os.listdir`` cannot read (a remote URL) adds no versions."""
    try:
        entries = sorted(e for e in os.listdir(sf_dir) if e.endswith(".parquet"))
    except OSError:
        entries = []
    inputs = [file_version(sf_dir, e[: -len(".parquet")]) for e in entries]
    tag = hashlib.md5(repr((version_key, inputs)).encode()).hexdigest()[:10]
    return roundtrip_dir(sf_dir, f"{name}_{tag}.parquet")


def staged(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    version_key: str,
    build: Callable[[], DataFrame],
    partition_by: list[str] | None = None,
) -> DataFrame:
    """``build()`` materialized to Parquet once per (sf_dir, pipeline
    version), then read back: what a large pipeline does between stages
    (downstream stages pay IO, not recompute). A table already on disk,
    staged under an earlier context, is not rebuilt. The entry holds the
    table's schema, so a warm read runs no inference job."""
    path = staged_path(sf_dir, name, version_key)
    schema = memo(
        spark, f"stage:{name}", (path,), lambda: _publish(spark, path, build, partition_by)
    )
    return spark.read.schema(schema).parquet(path)


def _publish(spark, path, build, partition_by) -> StructType:
    if not os.path.exists(path):
        # build into a private temp dir, then rename into place: atomic
        # on POSIX, so a concurrent process never reads a half-written
        # parquet directory
        tmp = f"{path}.tmp-{os.getpid()}"
        writer = build().write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(tmp)
        try:
            os.rename(tmp, path)
        except OSError:
            shutil.rmtree(tmp, ignore_errors=True)
            if not os.path.exists(path):
                # not the lost-race case: surface the real failure
                # instead of returning a path that doesn't exist
                raise
    return spark.read.parquet(path).schema


def roundtrip_dir(sf_dir: str, name: str) -> str:
    # pid in the key: the embedded-Derby roundtrip holds a JVM-wide
    # boot lock on its database directory, so two concurrent processes
    # (driver correctness gate + a local pytest/bench run) sharing an
    # sf_dir-only key would collide with XSDB6. Within one process the
    # dir is stable, keeping re-runs idempotent via truncate semantics.
    tag = hashlib.md5(f"{sf_dir}|{os.getpid()}".encode()).hexdigest()[:8]
    root = f"{tempfile.gettempdir()}/tinyetl_rt_{tag}"
    _register_rt_cleanup(root)
    return f"{root}/{name}"


_RT_CLEANUP_ROOTS: set[str] = set()


def _register_rt_cleanup(root: str) -> None:
    """Remove this process's pid-keyed roundtrip/checkpoint dirs at
    exit so abandoned sink + streaming state doesn't accumulate in
    the temp dir across runs. atexit, not eager delete: within the
    process the dirs must persist so bench best-of-2 reps and repeated
    pytest cases stay idempotent."""
    if root in _RT_CLEANUP_ROOTS:
        return
    if not _RT_CLEANUP_ROOTS:
        atexit.register(
            lambda: [
                shutil.rmtree(r, ignore_errors=True) for r in _RT_CLEANUP_ROOTS
            ]
        )
    _RT_CLEANUP_ROOTS.add(root)
