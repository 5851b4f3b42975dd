"""Unit tests for the multimodal and streaming extension modules."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from tests.conftest import SF_DIR
from tinyetl_spark import streaming
from tinyetl_spark.operators import multimodal, relational


def test_attach_metadata_and_digest_dedup(spark):
    df = spark.createDataFrame(
        [(1, bytearray(b"abc")), (2, bytearray(b"abc")), (3, bytearray(b"xyz"))],
        "doc_id long, payload binary",
    )
    with_meta = multimodal.attach_metadata(df, mime="text/plain")
    row = with_meta.filter(F.col("doc_id") == 1).head()
    assert row.meta.n_bytes == 3
    assert row.meta.mime == "text/plain"
    assert len(row.meta.digest) == 32  # 128-bit hex
    dd = {r.keep_id: r.n_dups for r in multimodal.dedup_by_digest(with_meta).collect()}
    assert dd == {1: 2, 3: 1}


def test_byte_histogram_exact(spark):
    # payload bytes 0,0,16,255 → bins (width 16): bin0=2, bin1=1, bin15=1
    df = spark.createDataFrame(
        [(7, bytearray(bytes([0, 0, 16, 255])))], "doc_id long, payload binary"
    )
    got = multimodal.byte_histogram(df, bins=16).head()
    assert got.doc_id == 7
    hist = got.hist
    assert hist[0] == 2 and hist[1] == 1 and hist[15] == 1 and sum(hist) == 4


def test_decode_stub_raises_not_implemented(spark):
    df = spark.createDataFrame([(1, bytearray(b"x"))], "doc_id long, payload binary")
    with pytest.raises(Exception, match="NotImplementedError|decode"):
        multimodal.decode_stub(df).collect()


def test_ivf_trained_centroids_recall(spark, tmp_path):
    """k-means-trained IVF with nprobe=4/8 must recover most of the
    brute-force top-10 (deterministic: fixed seed + ordered sample)."""
    from tinyetl_spark.operators import similarity

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    cents = similarity.train_ivf_centroids(emb, seed=42)
    assert len(cents) == 8 and len(cents[0]) == 64
    brute = {r.vec_id for r in similarity.brute_topk(emb, query_id=0, k=10).collect()}
    ivf = {
        r.vec_id
        for r in similarity.ivf_topk(emb, query_id=0, k=10, nprobe=4, centroids=cents).collect()
    }
    assert len(brute & ivf) >= 6  # recall@10 >= 0.6 with half the cells


def test_ivf_index_partition_pruning(spark, tmp_path):
    from tinyetl_spark.operators import similarity

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    idx = str(tmp_path / "ivf_idx")
    similarity.build_ivf_index(emb, idx)
    import os

    cells = [d for d in os.listdir(idx) if d.startswith("cell=")]
    assert len(cells) >= 2  # corpus actually spread over cells


def test_streaming_session_window_counts_match_batch(spark, tmp_path):
    """session_window must find the same number of sessions as the
    batch gap-and-islands operator on the same data (window *bounds*
    differ by design: streaming end = last_ts + gap)."""
    import os

    raw_schema = spark.read.parquet(f"{SF_DIR}/events.parquet").schema
    stage = tmp_path / "events_dir"
    os.makedirs(stage, exist_ok=True)
    os.symlink(f"{SF_DIR}/events.parquet", stage / "events.parquet")
    from tinyetl_spark.queries import _normalize_events_ts

    stream = _normalize_events_ts(streaming.read_events_stream(spark, str(stage), raw_schema))
    agg = streaming.session_aggregates(stream, gap="30 minutes", watermark="24 hours")
    got = streaming.run_bounded(agg, spark)

    from tinyetl_spark.queries import load

    batch = relational.sessionize(load(spark, SF_DIR, "events"), "user_id", "ts", 1800)
    assert got.count() == batch.count()
    # per-user session counts line up too
    g = {r.user_id: r.c for r in got.groupBy("user_id").agg(F.count("*").alias("c")).collect()}
    b = {r.user_id: r.c for r in batch.groupBy("user_id").agg(F.count("*").alias("c")).collect()}
    assert g == b


def test_approx_distinct_error_bound(spark):
    """HLL++ approx_count_distinct must land within ~3x the configured
    rsd (5% default) of the exact distinct count on real testdata."""
    e = spark.read.parquet(f"{SF_DIR}/events.parquet")
    exact = {
        r.event_type: r.n
        for r in e.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    approx = {
        r.event_type: r.n
        for r in e.groupBy("event_type")
        .agg(F.approx_count_distinct("user_id").alias("n"))
        .collect()
    }
    assert set(exact) == set(approx)
    for k, n in exact.items():
        assert abs(approx[k] - n) <= max(2, 0.15 * n), (k, approx[k], n)


def test_approx_percentile_error_bound(spark):
    """approx_percentile at accuracy=10000 must sit within the exact
    p25..p75 spread of the exact median per group."""
    o = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    rows = (
        o.groupBy("o_orderstatus")
        .agg(
            F.percentile("o_totalprice", F.lit(0.5)).alias("exact50"),
            F.approx_percentile("o_totalprice", F.lit(0.5), F.lit(10000)).alias("ap50"),
            F.percentile("o_totalprice", F.lit(0.25)).alias("p25"),
            F.percentile("o_totalprice", F.lit(0.75)).alias("p75"),
        )
        .collect()
    )
    assert rows
    for r in rows:
        assert r.p25 <= r.ap50 <= r.p75, r
        # and within 2% relative of the exact median on this data
        assert abs(r.ap50 - r.exact50) <= 0.02 * abs(r.exact50), r


def test_frame_sample_fanout_and_edges(spark):
    """1->N fan-out: 40 chars / 16-char frames = 3 frames, step 2 keeps
    frames 0 and 2; empty text yields no rows."""
    import hashlib

    df = spark.createDataFrame(
        [(1, "a" * 40), (2, "")], "doc_id long, text string"
    )
    got = {
        (r.doc_id, r.frame_idx): r.frame_md5
        for r in multimodal.frame_sample(df, frame_chars=16, step=2).collect()
    }
    assert set(got) == {(1, 0), (1, 2)}
    assert got[(1, 0)] == hashlib.md5(b"a" * 16).hexdigest()
    assert got[(1, 2)] == hashlib.md5(b"a" * 8).hexdigest()  # tail frame


def test_thumbnail_deterministic(spark):
    """Nearest-neighbor sampling: index i reads pos i*n//out; empty
    text hashes the empty string."""
    import hashlib

    df = spark.createDataFrame([(1, "abcd"), (2, "")], "doc_id long, text string")
    got = {r.doc_id: r.thumb_md5 for r in multimodal.thumbnail(df, out_size=4).collect()}
    assert got[1] == hashlib.md5(b"abcd").hexdigest()
    assert got[2] == hashlib.md5(b"").hexdigest()


def test_stateful_running_counts_rowcount_mode(spark, tmp_path):
    """The unweighted (weight_col=None) branch: raw rows streamed over
    two micro-batches, state carries the per-key running row count."""
    import os

    rows = [(1,), (1,), (2,)] * 4  # 12 rows: key 1 -> 8, key 2 -> 4
    df = spark.createDataFrame(rows, "user_id long").repartition(2)
    stage = str(tmp_path / "keys_dir")
    df.write.parquet(stage)
    schema = spark.read.parquet(stage).schema
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(stage)
    )
    counts = streaming.stateful_running_counts(stream, key="user_id")
    drained = streaming.run_bounded(counts, spark, mode="update")
    final = {
        r.user_id: r.n
        for r in drained.groupBy("user_id").agg(F.max("n_events").alias("n")).collect()
    }
    assert final == {1: 8, 2: 4}
    # update mode emitted one row per (key, batch it appeared in) — more
    # than one row per key proves state actually carried across batches
    assert drained.count() > 2


def test_kmeans_fit_improves_inertia(spark):
    from tinyetl_spark.operators import similarity

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")

    def inertia(cents):
        d = similarity.ivf_dists_col(similarity._vec("embedding"), cents)
        return emb.select(F.array_min(d).alias("m")).agg(F.sum("m")).first()[0]

    seed = similarity._ivf_seeded_centroids()
    fit = similarity.kmeans_fit(emb, iters=2)
    assert inertia(fit) < inertia(seed)
    # empty cells (if any) must keep the seed centroid, so shape holds
    assert len(fit) == len(seed) and all(len(c) == len(seed[0]) for c in fit)


def test_compact_small_files(spark, tmp_path):
    """Compaction must shrink the file count while preserving every row."""
    from tinyetl_spark.operators import maintenance

    src = str(tmp_path / "fragmented")
    df = spark.range(0, 10_000).withColumn("v", F.col("id") * 2)
    df.repartition(64).write.parquet(src)  # 64 tiny files
    import glob as g

    assert len(g.glob(f"{src}/part-*.parquet")) == 64
    dst = str(tmp_path / "compacted")
    n = maintenance.compact_small_files(spark, src, dst, target_file_mb=512)
    assert n == 1  # 10k rows is far under one 512 MB target file
    back = spark.read.parquet(dst)
    assert back.count() == 10_000
    assert back.agg(F.sum("v")).collect()[0][0] == df.agg(F.sum("v")).collect()[0][0]
    stats = maintenance.dataset_stats(dst)
    assert stats["n_files"] == 1 and stats["total_bytes"] > 0


def test_upsert_snapshot_column_mismatch_rejected(spark):
    from tinyetl_spark.operators import maintenance

    base = spark.range(3).withColumn("v", F.lit(1))
    bad = spark.range(3).withColumn("other", F.lit(2))
    with pytest.raises(ValueError, match="column mismatch"):
        maintenance.upsert_snapshot(base, bad, key="id")


def test_salted_join_left_and_rejects_outer(spark):
    from tinyetl_spark.operators import relational

    big = spark.createDataFrame([(1, "a"), (1, "b"), (2, "c"), (9, "z")], "k long, x string")
    small = spark.createDataFrame([(1, "one"), (2, "two")], "k long, name string")
    got = {
        (r.k, r.x, r.name)
        for r in relational.salted_join(big, small, "k", salt_buckets=4, how="left").collect()
    }
    assert got == {(1, "a", "one"), (1, "b", "one"), (2, "c", "two"), (9, "z", None)}
    with pytest.raises(ValueError, match="inner/left"):
        relational.salted_join(big, small, "k", how="full")


def test_pq_trained_recall_and_compression(spark):
    """Trained PQ codebooks: ADC top-10 must recover a meaningful part
    of the exact-L2 top-10 (4-bit x 8 subspaces is coarse — the bar is
    recall, not equality), and codes must be valid 4-bit indexes."""
    from tinyetl_spark.operators import similarity

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    books = similarity.train_pq_codebooks(emb, seed=7)
    assert len(books) == 8 and len(books[0]) == 16 and len(books[0][0]) == 8
    codes = similarity.rpq_encode(emb, [books]).collect()
    assert all(0 <= c <= 15 for r in codes for c in r.codes)
    assert all(len(r.codes) == 8 for r in codes)

    # exact-L2 top-10 for query 0 (unit-normed corpus: L2 rank == cosine rank)
    import numpy as np

    rows = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in emb.collect()}
    q = rows[0]
    exact = sorted(
        ((vid, ((q - v) ** 2).sum()) for vid, v in rows.items() if vid != 0),
        key=lambda t: t[1],
    )[:10]
    exact_ids = {vid for vid, _ in exact}
    # production PQ is shortlist-then-exact-rerank: the ADC top-50
    # shortlist must hold most of the true top-10 (chance: 50/500)
    short = {
        r.vec_id
        for r in similarity.rpq_topk(emb, query_id=0, k=50, stages=[books]).collect()
    }
    assert len(exact_ids & short) >= 5


def test_ann_query_id_not_found_raises_clearly(spark):
    from tinyetl_spark.operators import similarity

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    with pytest.raises(ValueError, match="not found"):
        similarity.rpq_topk(emb, query_id=10**9, stages=similarity._rpq_stages(1))
    with pytest.raises(ValueError, match="not found"):
        similarity.ivf_pq_topk(emb, query_id=10**9)
    with pytest.raises(ValueError, match="not found"):
        similarity.ivf_topk(emb, query_id=10**9)


def test_streaming_psi_matches_batch(spark):
    """The streaming drift monitor's bounded replay must produce the
    batch monitor's exact PSI rows (same counts -> same integer
    micro-unit terms -> same sums)."""
    from tinyetl_spark.queries import QUERIES

    sf = "/root/testdata/sf0.001"
    got = {
        r["source"]: (r["n_docs"], r["psi"])
        for r in QUERIES["streaming_psi_drift"](spark, sf).collect()
    }
    want = {
        r["source"]: (r["n_docs"], r["psi"])
        for r in QUERIES["source_psi_drift"](spark, sf).collect()
    }
    assert got == want and len(got) > 0


def test_streaming_perceptual_dedup_matches_batch(spark):
    """The streamed dHash dedup must emit exactly the batch tier's
    distinct fingerprint set — the arrival-order-independence the
    query's docstring claims (state = one row per distinct hash)."""
    from tinyetl_spark.queries import QUERIES, _synth_media_df
    from tinyetl_spark.operators import multimodal

    got = {
        r["dhash"]
        for r in QUERIES["streaming_perceptual_dedup"](spark, SF_DIR).collect()
    }
    batch = {
        r["dhash"]
        for r in multimodal.dhash_media(_synth_media_df(spark, SF_DIR, "bmp9"))
        .select("dhash")
        .distinct()
        .collect()
    }
    assert got == batch and len(got) > 0
