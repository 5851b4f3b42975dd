"""Warm reps reuse what the JVM already built: generated classes stay in
the codegen cache, and each table file's schema is inferred once."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq

from tests.conftest import SF_DIR
from tinyetl_spark.queries import QUERIES, _normalize_events_ts, load


def _jobs(spark, group: str, fn):
    """Spark jobs ``fn()`` runs, counted through its job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_warm_pass_compiles_no_classes(spark):
    # together these need about 125 generated classes, more than Spark's
    # default cache of 100, so at that size every pass evicts and
    # recompiles most of them
    names = ["dsir_select_docs", "fuzzy_decontam", "fuzzy_join_phrases", "bpe_pair_counts"]
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    counts = []
    for _ in range(2):
        before = compiles.getCount()
        for name in names:
            QUERIES[name](spark, SF_DIR).write.format("noop").mode("overwrite").save()
        counts.append(compiles.getCount() - before)
    assert counts[1] == 0, counts


def test_load_infers_each_file_schema_once(spark, tmp_path):
    path = tmp_path / "t.parquet"
    pq.write_table(pa.table({"id": [1, 2, 3], "name": ["a", "b", "c"]}), path)
    first, _ = _jobs(spark, "load-1", lambda: load(spark, str(tmp_path), "t"))
    second, jobs = _jobs(spark, "load-2", lambda: load(spark, str(tmp_path), "t"))
    assert jobs == 0
    assert second.schema == first.schema
    # each read has its own attribute ids, so a self-join resolves
    assert first.join(second, first["id"] == second["id"]).count() == 3

    # a rewritten file is a new key: its new schema is inferred
    pq.write_table(pa.table({"id": [1.5], "tag": [True], "name": ["x"]}), path)
    again = load(spark, str(tmp_path), "t")
    assert again.dtypes == [("id", "double"), ("tag", "boolean"), ("name", "string")]
    assert again.collect()[0].tag is True


def test_memoized_events_schema_reads_nanos_like_inference(spark):
    # events.ts is TIMESTAMP(NANOS): the schema passed back in must read
    # it exactly as inference did, normalization included
    inferred = _normalize_events_ts(spark.read.parquet(f"{SF_DIR}/events.parquet"))
    load(spark, SF_DIR, "events")
    memo, jobs = _jobs(spark, "load-events", lambda: load(spark, SF_DIR, "events"))
    assert jobs == 0
    assert memo.dtypes == inferred.dtypes and dict(memo.dtypes)["ts"] == "timestamp"
    cols = [c for c in memo.columns if c != "ts"]
    want = inferred.selectExpr(*cols, "unix_micros(ts) AS us")
    got = memo.selectExpr(*cols, "unix_micros(ts) AS us")
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0
