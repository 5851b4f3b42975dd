"""Warm reps reuse what the JVM already built: generated classes stay in
the codegen cache, each table file's schema is inferred once, and a
model fit on a corpus file is fit once."""

from __future__ import annotations

import shutil

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from tests.conftest import SF_DIR
from tests.test_oracle import _normalize
from tinyetl_spark.artifacts import drain_events
from tinyetl_spark.operators.dsir import DSIR_BUCKETS, dsir_fit
from tinyetl_spark.queries import ORACLES, QUERIES, _normalize_events_ts, load


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


def _oracle_rows(sf_dir: str, name: str, table: str):
    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW {table} AS SELECT * FROM '{sf_dir}/{table}.parquet'")
        return _normalize(con.execute(ORACLES[name]).df())
    finally:
        con.close()


@pytest.mark.parametrize(
    "name, table, artifact",
    [
        ("dsir_select_docs", "documents", "dsir_model"),
        ("count_min_heavy_hitters", "events", "count_min_sketch"),
    ],
)
def test_warm_rep_reuses_the_fit_and_runs_no_construction_job(
    spark, tmp_path, name, table, artifact
):
    # a copy is a new file version, so the first rep here fits
    shutil.copyfile(f"{SF_DIR}/{table}.parquet", tmp_path / f"{table}.parquet")
    sf = str(tmp_path)
    want = _oracle_rows(sf, name, table)
    drain_events()
    jobs, events = [], []
    for rep in range(2):
        df, n = _jobs(spark, f"{name}-{rep}", lambda: QUERIES[name](spark, sf))
        jobs.append(n)
        events += [(kind, a) for kind, a, _ in drain_events() if a != "schema"]
        assert _normalize(df.toPandas()) == want, rep
    assert jobs[0] >= 1 and jobs[1] == 0, jobs
    assert events == [("build", artifact), ("hit", artifact)]


def test_dsir_fit_runs_one_collect(spark, monkeypatch):
    docs = load(spark, SF_DIR, "documents")
    tgt, pool = docs.filter("doc_id % 97 = 0"), docs.filter("doc_id % 97 <> 0")
    cls = type(docs)
    collect = cls.collect
    calls = []
    monkeypatch.setattr(cls, "collect", lambda self: calls.append(1) or collect(self))
    model, n = dsir_fit(tgt, pool)
    assert len(calls) == 1
    monkeypatch.undo()
    assert n == pool.count()
    # the model is checkpointed: reading it back runs no corpus scan
    plan = model._jdf.queryExecution().executedPlan().toString()
    assert "FileScan" not in plan
    assert 0 < model.count() <= DSIR_BUCKETS
