"""The artifact store: one key rule, one eviction rule and one bounded
event log for every shared model, schema and staged table."""

from __future__ import annotations

from types import SimpleNamespace

import pytest

from tests.conftest import SF_DIR
from tests.test_jvm_reuse import _jobs
from tinyetl_spark import artifacts


def _fake_spark(app_id: str):
    return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app_id))


@pytest.fixture()
def store(monkeypatch):
    """An empty store, so a fake applicationId evicts nothing real."""
    monkeypatch.setattr(artifacts, "_ENTRIES", {})
    artifacts.drain_events()
    yield
    artifacts.drain_events()


def test_second_access_hits_and_reports_build_seconds(store):
    builds = []
    spark = _fake_spark("app-1")

    def build():
        builds.append(1)
        return ["model"]

    first = artifacts.memo(spark, "m", ("sf",), build)
    second = artifacts.memo(spark, "m", ("sf",), build)
    assert second is first and len(builds) == 1
    (k1, n1, s1), (k2, n2, s2) = artifacts.drain_events()
    assert (k1, n1, k2, n2) == ("build", "m", "hit", "m")
    assert s2 == s1 > 0
    # another key under the same name is its own entry
    artifacts.memo(spark, "m", ("other",), build)
    assert len(builds) == 2


def test_miss_under_new_application_drops_stale_entries(store):
    old, new = _fake_spark("app-old"), _fake_spark("app-new")
    artifacts.memo(old, "a", (), lambda: 1)
    artifacts.memo(old, "b", (1,), lambda: 2)
    assert artifacts.memo(new, "a", (), lambda: 3) == 3
    assert list(artifacts._ENTRIES) == [("app-new", "a")]
    # the old context's value is gone: a later access under it rebuilds
    assert artifacts.memo(old, "b", (1,), lambda: 4) == 4


def test_event_log_is_bounded(store):
    spark = _fake_spark("app-1")
    for _ in range(artifacts.EVENTS_MAXLEN + 10):
        artifacts.memo(spark, "m", (), lambda: 0)
    events = artifacts.drain_events()
    assert len(events) == artifacts.EVENTS_MAXLEN
    assert all(kind == "hit" for kind, _, _ in events)
    assert artifacts.drain_events() == []


def test_warm_staged_read_runs_no_job(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(artifacts, "_ENTRIES", {})
    build = lambda: spark.range(0, 10).selectExpr("id", "id % 3 AS g")  # noqa: E731
    sf = str(tmp_path)
    cold, cold_jobs = _jobs(spark, "stage-1", lambda: artifacts.staged(spark, sf, "t", "v1", build))
    warm, warm_jobs = _jobs(spark, "stage-2", lambda: artifacts.staged(spark, sf, "t", "v1", build))
    assert cold_jobs >= 2 and warm_jobs == 0
    assert warm.schema == cold.schema and warm.count() == 10
    # each read has its own attribute ids, so a self-join resolves
    assert cold.join(warm, cold["id"] == warm["id"]).count() == 10
    # a partitioned table keeps its partition column and type
    part, _ = _jobs(
        spark, "stage-3", lambda: artifacts.staged(spark, sf, "p", "v1", build, partition_by=["g"])
    )
    again, jobs = _jobs(
        spark, "stage-4", lambda: artifacts.staged(spark, sf, "p", "v1", build, partition_by=["g"])
    )
    assert jobs == 0 and again.dtypes == part.dtypes == [("id", "bigint"), ("g", "int")]
    assert again.filter("g = 1").count() == 3


def test_table_on_disk_is_not_rebuilt(spark, tmp_path, monkeypatch):
    sf = str(tmp_path)
    monkeypatch.setattr(artifacts, "_ENTRIES", {})
    artifacts.staged(spark, sf, "t", "v1", lambda: spark.range(0, 5))
    # an empty store is what a new context sees: the table staged
    # under the earlier one is read back, not built again
    monkeypatch.setattr(artifacts, "_ENTRIES", {})

    def fail():
        raise AssertionError("rebuilt a staged table")

    assert artifacts.staged(spark, sf, "t", "v1", fail).count() == 5
    # a new version key is a new table
    assert artifacts.staged(spark, sf, "t", "v2", lambda: spark.range(0, 2)).count() == 2


def test_bench_memo_records_line_up_with_reps(spark, monkeypatch):
    import bench
    from tinyetl_spark import session

    monkeypatch.setattr(artifacts, "_ENTRIES", {})
    monkeypatch.setattr(bench, "SF_DIR", SF_DIR)
    monkeypatch.setattr(session, "get_spark", lambda **_: spark)
    monkeypatch.setattr(spark, "stop", lambda: None)
    res = bench._run_shard(["multimodal_meta", "quality_classifier_docs"])
    assert res["failures"] == {}
    for name, reps in res["reps"].items():
        assert len(res["memo"][name]) == len(reps), name
    cold, warm = res["memo"]["quality_classifier_docs"][:2]
    assert "classifier_model" in cold["built"] and cold["build_s"]["classifier_model"] > 0
    assert "classifier_model" in warm["hit"] and warm["built"] == []
    # each rep's jobs: the cold rep's training runs jobs the warm one skips
    assert cold["jobs"] > warm["jobs"] >= 1


def test_model_memos_follow_a_rewritten_corpus(spark, tmp_path):
    # the trained classifier is memoized per corpus file: rewriting the
    # file in place under the same context refits it, so the scores
    # still equal the oracle's, which trains on the new file
    import duckdb
    import pyarrow.parquet as pq

    from tests.test_oracle import _normalize
    from tinyetl_spark.queries import ORACLES, QUERIES

    name = "quality_classifier_docs"
    path = tmp_path / "documents.parquet"
    docs = pq.read_table(f"{SF_DIR}/documents.parquet")
    for version in (docs, docs.slice(0, 300)):
        pq.write_table(version, path)
        got = QUERIES[name](spark, str(tmp_path)).toPandas()
        con = duckdb.connect()
        con.execute(f"CREATE VIEW documents AS SELECT * FROM '{path}'")
        want = con.execute(ORACLES[name]).df()
        con.close()
        assert len(got) == version.num_rows
        assert _normalize(got) == _normalize(want)


def test_staged_tables_follow_a_rewritten_input(spark, tmp_path):
    # a staged table is keyed by the versions of the files under
    # sf_dir: rewriting embeddings.parquet in place under the same
    # context stages the PQ code table again, so the top-k read off it
    # still equals the oracle's over the new file. The rewrite drops the
    # first answer's neighbours, so a stale code table cannot pass.
    import duckdb
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from tests.test_oracle import _normalize
    from tinyetl_spark.queries import ORACLES, QUERIES

    name = "ann_pq_topk"
    path = tmp_path / "embeddings.parquet"

    def top_ids(table) -> set[int]:
        pq.write_table(table, path)
        got = QUERIES[name](spark, str(tmp_path)).toPandas()
        con = duckdb.connect()
        con.execute(f"CREATE VIEW embeddings AS SELECT * FROM '{path}'")
        want = con.execute(ORACLES[name]).df()
        con.close()
        assert len(got) == 10
        assert _normalize(got) == _normalize(want)
        return {int(v) for v in got["vec_id"]}

    emb = pq.read_table(f"{SF_DIR}/embeddings.parquet")
    first = top_ids(emb)
    gone = pc.is_in(emb["vec_id"], value_set=pa.array(sorted(first), pa.int64()))
    assert not first & top_ids(emb.filter(pc.invert(gone)))
