"""Plan-shape regression tests: the scale claims each operator's
docstring makes (pushdown, broadcast, partition pruning, no-shuffle)
asserted against the ACTUAL physical plan — a future edit that silently
turns a broadcast join into a sort-merge join or un-pushes a filter
fails here, not at 100 TB."""

from __future__ import annotations

import re

import pytest

from tests.conftest import SF_DIR
from tinyetl_spark.queries import QUERIES


def plan_of(spark, name: str) -> str:
    df = QUERIES[name](spark, SF_DIR)
    return df._jdf.queryExecution().executedPlan().toString()


def _plan_nodes(node):
    """Every node of a physical plan, looking inside AQE's
    AdaptiveSparkPlanExec (a leaf whose plan is its executedPlan),
    query stages and subqueries."""
    yield node
    kind = node.getClass().getSimpleName()
    if kind == "AdaptiveSparkPlanExec":
        kids = [node.executedPlan()]
    elif kind.endswith("QueryStageExec"):
        kids = [node.plan()]
    else:
        seqs = (node.children(), node.subqueries())
        kids = [q.apply(i) for q in seqs for i in range(q.size())]
    for kid in kids:
        yield from _plan_nodes(kid)


def window_partitions(df) -> list[tuple[str, ...]]:
    """Each Window node's partition keys, by name (no expression ids)."""
    plan = df._jdf.queryExecution().executedPlan()
    out = []
    for node in _plan_nodes(plan):
        if node.getClass().getSimpleName() == "WindowExec":
            spec = node.partitionSpec()
            out.append(
                tuple(re.sub(r"#\d+L?$", "", spec.apply(i).toString()) for i in range(spec.size()))
            )
    return out


def assert_two_phase(df, by: tuple[str, ...] = ()) -> str:
    """Every Window partitions by exactly (*by, _b), the range bucket of
    relational.ordered_prefix, and there is at least one. Returns the
    plan text for the pin's other checks."""
    windows = window_partitions(df)
    assert windows and all(w == (*by, "_b") for w in windows), windows
    return df._jdf.queryExecution().executedPlan().toString()


def two_phase_plan(spark, name: str, by: tuple[str, ...] = ()) -> str:
    return assert_two_phase(QUERIES[name](spark, SF_DIR), by)


def test_window_walker_flags_a_bare_order_by_window(spark):
    """The walker reads partition keys off the tree, AQE wrapper
    included: a bare Window.orderBy has none, and fails the check."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    df = spark.range(10).withColumn("k", F.col("id") % 3)
    bare = df.withColumn("r", F.row_number().over(Window.orderBy("id")))
    keyed = df.withColumn("r", F.row_number().over(Window.partitionBy("k").orderBy("id")))
    assert bare._jdf.queryExecution().executedPlan().getClass().getSimpleName() == (
        "AdaptiveSparkPlanExec"
    )
    assert window_partitions(bare) == [()]
    assert window_partitions(keyed) == [("k",)]
    with pytest.raises(AssertionError):
        assert_two_phase(bare)


def test_scan_project_pushdown_and_pruning(spark):
    p = plan_of(spark, "scan_project")
    assert "PushedFilters: [" in p and "l_discount" in p.split("PushedFilters")[1][:120]
    # column pruning: ReadSchema holds only the 4 needed columns
    read_schema = p.split("ReadSchema:")[1].splitlines()[0]
    assert "l_comment" not in read_schema and "l_shipdate" not in read_schema


def test_revenue_by_nation_broadcasts_dims(spark):
    p = plan_of(spark, "revenue_by_nation")
    assert p.count("BroadcastHashJoin") >= 3  # orders/customer/nation/region build sides
    assert "SortMergeJoin" not in p


def test_top10_orders_uses_takeordered(spark):
    assert "TakeOrderedAndProject" in plan_of(spark, "top10_orders")


def test_minhash_signatures_no_shuffle(spark):
    # per-row fold: no Exchange anywhere in the plan
    assert "Exchange" not in plan_of(spark, "minhash_signatures")


def test_simhash_no_shuffle(spark):
    assert "Exchange" not in plan_of(spark, "simhash_docs")


def test_dedup_exact_single_shuffle(spark):
    p = plan_of(spark, "dedup_exact")
    # one hash aggregation = exactly one Exchange (AQE may wrap it)
    assert p.count("Exchange hashpartitioning") == 1


def test_ann_indexed_probe_prunes_partitions(spark):
    p = plan_of(spark, "ann_indexed_topk")
    seg = p.split("PartitionFilters:")[1][:120]
    assert "bucket" in seg  # planning-time pruning on the bucket column


def test_transform_inline_is_pure_codegen(spark):
    p = plan_of(spark, "transform_inline")
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "*(1)" in p  # whole-stage-codegen marker in plan strings
    assert "Exchange" not in p  # row-local transform: no shuffle


def test_validate_events_fused_single_pass(spark):
    p = plan_of(spark, "validate_events")
    assert "Exchange" not in p  # validation is filter+project on the scan
    assert "BatchEvalPython" not in p


def test_transform_pyfile_is_arrow_not_row_udf(spark):
    p = plan_of(spark, "transform_pyfile")
    assert "MapInPandas" in p or "mapInPandas" in p.lower()
    assert "BatchEvalPython" not in p  # no row-at-a-time Python


def test_bucketed_join_has_zero_shuffles(spark):
    """Both sides bucketed+sorted on the key → SortMergeJoin with NO
    Exchange anywhere (the groupBy reuses the bucketing too)."""
    p = plan_of(spark, "bucketed_join_orders")
    assert "SortMergeJoin" in p
    assert p.count("Bucketed: true") == 2
    assert "Exchange" not in p


def test_salted_agg_two_phase(spark):
    """Salted aggregation: phase-1 shuffle on (key, salt), phase-2 on
    key — two exchanges by design, never a single hot reducer."""
    p = plan_of(spark, "salted_user_stats")
    assert p.count("Exchange hashpartitioning") == 2


@pytest.mark.parametrize(
    "name",
    [
        "q1_pricing_summary", "mktsegment_stats", "events_tumbling",
        "token_stats", "text_quality", "lang_id", "embedding_norms",
    ],
)
def test_no_python_in_builtin_operators(spark, name):
    p = plan_of(spark, name)
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_hopping_window_expands_before_shuffle(spark):
    """window(ts, 1h, 30m): fan-out via Expand (codegen-side), then ONE
    aggregation shuffle — not one pass per slide offset."""
    p = plan_of(spark, "hopping_window_events")
    assert "Expand" in p
    assert p.count("Exchange hashpartitioning") == 1


def test_window_time_range_single_shuffle_and_sort(spark):
    """Both 1-hour trailing aggregates ride one window spec: one
    Exchange on user_id, one Sort, one Window operator."""
    p = plan_of(spark, "window_time_range")
    assert p.count("Exchange hashpartitioning") == 1
    assert p.count("Window") == 1


def test_pivot_has_no_distinct_discovery_pass(spark):
    """Explicit value-list pivot: single agg shuffle; a values-less
    pivot() would add a driver-side distinct scan of the pivot column."""
    p = plan_of(spark, "pivot_priority_status")
    assert p.count("Exchange hashpartitioning") == 1


def test_full_outer_joins_preaggregated_sides(spark):
    """Both sides aggregate to ~25 rows BEFORE the full-outer join —
    the join itself must not be a row-level SortMergeJoin over raw
    customer/supplier tables."""
    p = plan_of(spark, "full_outer_nation_counts")
    # aggregation happens below the join: two hash aggregates feed it
    assert p.count("HashAggregate") >= 4  # partial+final per side
    assert "FullOuter" in p


def test_lang_id_no_shuffle_no_python(spark):
    p = plan_of(spark, "lang_id")
    assert "Exchange" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_multimodal_frame_sample_is_arrow_batched(spark):
    """The escape hatch must be Arrow mapInPandas (MapInPandas/
    ArrowEvalPython-free row loop never appears)."""
    p = plan_of(spark, "multimodal_frame_sample")
    assert "MapInPandas" in p
    assert "BatchEvalPython" not in p


def test_embedding_quantize_no_shuffle_no_python(spark):
    """Quantization is a per-row projection: zero Exchange, zero Python,
    and the scale fold must NOT be inlined into the quantize lambda
    (which would re-evaluate the array_max per element)."""
    p = plan_of(spark, "embedding_quantize")
    assert "Exchange" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    # one array_max in the whole plan — not d copies
    assert p.count("array_max") == 1


def test_asof_tolerance_single_shuffle_no_join(spark):
    """As-of with tolerance keeps the union+window shape: ONE shuffle on
    the key, no join operator of any kind in the plan."""
    p = plan_of(spark, "asof_tolerance")
    assert p.count("Exchange hashpartitioning") == 1
    assert "Join" not in p


def test_derby_jdbc_roundtrip_is_partitioned_scan(spark):
    """The JDBC read-back side must be a parallel partitioned scan (4
    range partitions), not a single-connection pull."""
    df = QUERIES["jdbc_roundtrip"](spark, SF_DIR)
    assert df.rdd.getNumPartitions() == 4


def test_repetition_stats_two_phase_agg(spark):
    """Explode feeds a map-side-combined (doc,word) count, then a per-doc
    rollup: exactly one hashpartitioning exchange per aggregation level,
    no Python anywhere."""
    p = plan_of(spark, "repetition_stats")
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert p.count("Exchange hashpartitioning") <= 2


def test_decontam_overlap_broadcasts_heldout(spark):
    """The held-out shingle set must be the broadcast side — the training
    corpus is probed in place, never shuffled for the join."""
    p = plan_of(spark, "decontam_overlap")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_q3_broadcasts_customer_and_takeordered(spark):
    p = plan_of(spark, "q3_shipping_priority")
    assert "BroadcastHashJoin" in p  # filtered customer dim builds
    assert "TakeOrderedAndProject" in p  # limit-10 never global-sorts
    # both date predicates reach the scans
    assert p.count("PushedFilters: [") >= 2


def test_q10_broadcasts_both_dims(spark):
    p = plan_of(spark, "q10_returned_revenue")
    assert p.count("BroadcastHashJoin") >= 2  # customer and nation
    assert "TakeOrderedAndProject" in p


def test_ann_batch_broadcasts_probes(spark):
    p = plan_of(spark, "ann_batch_topk")
    assert "BroadcastHashJoin" in p  # probe set is the build side
    assert "SortMergeJoin" not in p


def test_training_mix_single_shuffle(spark):
    # quality gate + sample filter are codegen; the only exchanges are
    # the fingerprint window hash and the doc_id self-join
    p = plan_of(spark, "training_mix")
    assert "BatchEvalPython" not in p and "SortMergeJoin" not in p


def test_dedup_survivors_broadcast_anti(spark):
    p = plan_of(spark, "dedup_survivors")
    assert "BroadcastHashJoin" in p and "LeftAnti" in p


def test_partitioned_scan_prunes(spark):
    p = plan_of(spark, "partitioned_scan_prune")
    seg = p.split("PartitionFilters:")[1][:160]
    assert "event_type" in seg  # predicate prunes directories at planning


def test_char_entropy_in_row_no_shuffle_no_python(spark):
    """char_entropy counts per-char in-row via HOFs — its whole point
    vs an explode→groupBy is ZERO shuffle and zero Python."""
    p = plan_of(spark, "char_entropy_docs")
    assert "Exchange" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_bm25_broadcasts_df_table(spark):
    """bm25's per-term document-frequency table is tiny — it must come
    back as a broadcast join, never a shuffled sort-merge join."""
    p = plan_of(spark, "bm25_top_terms")
    assert "BroadcastHashJoin" in p
    # the doc-length join keys on doc_id over two corpus-sized sides —
    # a shuffle there is honest; a shuffled join on `term` is not
    assert "SortMergeJoin [term" not in p


def test_salted_join_joins_on_salt(spark):
    """The whole point of the salted join: the physical join keys must
    include the salt so a hot key spreads across reducers."""
    p = plan_of(spark, "salted_join_orders")
    assert "_salt" in p


def test_epoch_shuffle_window_is_bucket_partitioned(spark):
    """The global rank must be two-phase: the row_number window
    partitions on the md5-prefix bucket (parallel), never an
    unpartitioned ORDER BY window (single-reducer corpus funnel); the
    cumulative offsets ride as a literal map lookup — NO join anywhere
    (a joined offsets table trips the constraint-inference bug
    relational.ordered_prefix documents)."""
    p = two_phase_plan(spark, "epoch_shuffle_docs")
    assert "Join" not in p


def test_pack_sequences_window_is_bucket_partitioned(spark):
    """Same two-phase contract as epoch_shuffle: the running-total
    window partitions on the id-range bucket, never a bare ORDER BY;
    offsets are a literal map, no join."""
    p = two_phase_plan(spark, "pack_sequences_docs")
    assert "Join" not in p


def test_fuzzy_decontam_broadcasts_heldout(spark):
    """The held-out bands must be the broadcast side everywhere — the
    training corpus is probed in place, never shuffled for the match.
    Since the round-9 barrier refactor the verify's visible plan ends
    at a numeric-stats Scan, so the broadcast contract is pinned on
    the candidate subtree (the exact DataFrame fuzzy_decontam feeds to
    the verify) plus a no-regression check on the final plan."""
    from pyspark.sql import functions as F

    from tests.conftest import SF_DIR
    from tinyetl_spark.operators import dedup
    from tinyetl_spark.queries import load

    docs = load(spark, SF_DIR, "documents")
    cand = dedup.fuzzy_decontam_candidates(docs, F.col("doc_id") % 10 == 0)
    cp = cand._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in cp
    assert "SortMergeJoin" not in cp
    p = plan_of(spark, "fuzzy_decontam")
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "SortMergeJoin" not in p.split("jaccard")[0]


def test_pq_encode_pure_codegen(spark):
    """PQ encoding is a per-row projection: zero Exchange, zero Python —
    the compression scan must run at parquet scan speed."""
    p = plan_of(spark, "pq_encode_vectors")
    assert "Exchange" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_jaccard_verify_parquet_stage_swap(spark, tmp_path):
    """With stage_path set, the LSH->verify hand-off goes through a
    parquet stage (file scan in the verify plan, candidates + sets on
    disk) and returns the same pairs as the localCheckpoint profile —
    the cluster-real retry/resume shape from SURVEY's scale notes."""
    from tinyetl_spark.operators import dedup
    from tinyetl_spark.queries import load

    df = load(spark, SF_DIR, "documents").select("doc_id", "text")
    cand = dedup.minhash_candidates(df)
    base = dedup.jaccard_verify(df, cand).orderBy("id_a", "id_b").collect()
    staged_df = dedup.jaccard_verify(df, cand, stage_path=str(tmp_path))
    staged = staged_df.orderBy("id_a", "id_b").collect()
    assert staged == base
    p = staged_df._jdf.queryExecution().executedPlan().toString()
    assert "parquet" in p.lower()  # verify reads the persisted stage
    import os
    assert os.path.isdir(tmp_path / "jaccard_candidates")
    assert os.path.isdir(tmp_path / "word_sets")


def test_semantic_dup_pairs_single_cell_shuffle(spark):
    """Cell assignment is codegen; the pair join shuffles on the cell
    id (plus AQE wrappers) and never goes Python or nested-loop."""
    p = plan_of(spark, "semantic_dup_pairs")
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p


def test_unigram_logprob_broadcasts_vocab(spark):
    """The bounded top-V vocabulary joins back as a broadcast — the
    corpus-side explode is never shuffled for the model join."""
    p = plan_of(spark, "unigram_logprob_docs")
    assert "BroadcastHashJoin" in p
    assert "BatchEvalPython" not in p


def test_zorder_key_is_pure_codegen(spark):
    """The Morton key is bit arithmetic in the scan projection: no
    Exchange before the final order-by, no Python anywhere."""
    p = plan_of(spark, "zorder_key_events")
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "TakeOrderedAndProject" in p  # orderBy+limit, not a full sort


def test_rag_ingest_single_shuffle_no_python(spark):
    """chunk -> hash-embed -> bucket -> count is ONE distributed plan:
    exactly one aggregation shuffle and zero Python (the embedder slot
    is pure codegen here; a Pandas-UDF model call would add exactly one
    ArrowEval stage in its place)."""
    p = plan_of(spark, "rag_ingest_pipeline")
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert p.count("Exchange hashpartitioning") == 1
    assert "Generate" in p  # posexplode chunking inside codegen


def test_gopher_rules_in_row_no_shuffle_no_python(spark):
    """Every Gopher rule is a per-row HOF/regex expression over one
    word-array projection — scan-speed, no Exchange, no Python."""
    p = plan_of(spark, "gopher_quality_docs")
    assert "Exchange" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_c4_rules_in_row_no_shuffle_no_python(spark):
    """Every C4 rule (line keep counts, bad-word/lorem/brace page
    signals, keep flag) is a per-row HOF/regex expression over one
    word-array projection — scan-speed, no Exchange, no Python, no
    explode (the line table never materializes)."""
    p = plan_of(spark, "c4_quality_docs")
    assert "Exchange" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "Generate" not in p


def test_split_ngram_leakage_shingle_join_no_cartesian(spark):
    """The leakage audit meets in shingle-keyed equi-joins (train side
    distinct-collapsed first): no cartesian/nested-loop anywhere, no
    Python, and the split assignment is an in-row hash (no join back
    to a split summary table)."""
    p = plan_of(spark, "split_ngram_leakage")
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_ivf_balance_single_groupby_no_python(spark):
    """Cell assignment is an in-row distance fold; the audit is ONE
    map-side-combined groupBy on the cell id (one hashpartitioning
    exchange) with the cell table and 1-row total broadcast — no
    Python, no sort-merge join."""
    p = plan_of(spark, "ivf_balance_audit")
    assert p.count("Exchange hashpartitioning") == 1
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "SortMergeJoin" not in p


def test_bm25_search_filters_before_shuffle_and_takeordered(spark):
    """The exploded term stream must be joined (broadcast) against the
    query terms BEFORE any aggregation shuffle, and the global top-k
    must be TakeOrderedAndProject, never a full sort."""
    p = plan_of(spark, "bm25_search_docs")
    assert "TakeOrderedAndProject" in p
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin [term" not in p


def test_quality_budget_window_is_bucket_partitioned(spark):
    """Same two-phase contract as pack_sequences: the quality-ordered
    prefix sum windows on the quantile bucket, never a bare ORDER BY
    (single-reducer corpus funnel); offsets are a literal map, no
    join."""
    p = two_phase_plan(spark, "quality_budget_select")
    assert "Join" not in p


def test_cluster_best_survivor_broadcasts_clusters(spark):
    """The cluster table (dup-involved docs only) must broadcast into
    the quality join — the corpus-sized quality side stays in place."""
    p = plan_of(spark, "cluster_best_survivor")
    assert "BroadcastHashJoin" in p


def test_dup_ngram_frac_in_row_no_shuffle_no_python(spark):
    """Duplicate-n-gram fraction is sort + neighbor-equality inside the
    row — like char_entropy, its whole point is ZERO shuffle."""
    p = plan_of(spark, "dup_ngram_frac_docs")
    assert "Exchange" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_curation_pipeline_two_phase_no_python(spark):
    """The composed curation plan keeps every stage's scale contract:
    the budget/shuffle windows stay bucket-partitioned and no stage
    falls back to Python."""
    p = two_phase_plan(spark, "curation_pipeline")
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_ivf_pq_probe_prunes_index_partitions(spark):
    """The staged IVF-PQ index is cell-partitioned: a probe must show
    the cell filter as PartitionFilters (planning-time pruning over the
    index files), and never re-encode a vector."""
    p = plan_of(spark, "ann_ivf_pq_topk")
    seg = p.split("PartitionFilters:")[1][:160]
    assert "cell" in seg


def test_event_outliers_broadcasts_stats(spark):
    """The per-type stats table is tiny — it must broadcast back into
    the corpus scan, never shuffle the events."""
    p = plan_of(spark, "event_outliers")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_hot_keys_audit_takeordered(spark):
    """Heavy-hitter audit: map-side-combined agg + TakeOrdered, never a
    global sort of the key histogram."""
    p = plan_of(spark, "hot_keys_audit")
    assert "TakeOrderedAndProject" in p


def test_dup_passage_spans_skew_safe_no_python(spark):
    """Passage extraction's "occurs >= 2" must be a partial-aggregated
    groupBy on the gram hash joined back — NEVER a count window
    partitioned by gh, which would funnel every position of one
    boilerplate gram into a single straggler task. The gram STRING
    never shuffles (only the 128-bit hash crosses the wire), the only
    Window left is the per-doc island merge on doc_id, and no Python."""
    p = plan_of(spark, "dup_passage_spans")
    assert "HashAggregate" in p  # the gh count partial-aggregates
    for frag in p.split("Window")[1:]:
        head = frag[:200]
        assert "gh" not in head, f"window partitioned by gram hash: {head}"
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_line_dedup_no_python_anti_join_not_broadcast_nested_loop(spark):
    """The boilerplate anti-join must stay a hash join on the
    normalized line (either broadcast or shuffled is acceptable — the
    set is unbounded in principle) and never a nested-loop cross."""
    p = plan_of(spark, "line_dedup_docs")
    assert "LeftAnti" in p
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_fuzzy_join_is_equi_join_no_cross(spark):
    """The PassJoin filter's whole point: the similarity join runs as a
    plain equi-join on (segment, slot, length) — a cross/nested-loop
    join here means the segment keys stopped matching and the plan
    degenerated to |corpus| x |probes|."""
    p = plan_of(spark, "fuzzy_join_phrases")
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p
    assert ("BroadcastHashJoin" in p) or ("SortMergeJoin" in p) or ("ShuffledHashJoin" in p)
    assert "levenshtein" in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_bpe_pair_counts_takeordered_no_python(spark):
    """BPE pair counting ends in a bounded TakeOrdered (top-30), never
    a global sort, and stays out of Python."""
    p = plan_of(spark, "bpe_pair_counts")
    assert "TakeOrderedAndProject" in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_kmv_sketch_takeordered_no_python(spark):
    """Each KMV sketch is a bounded TakeOrdered over distinct hashes —
    the whole point is avoiding corpus-sized distinct-joins. The
    registered query checkpoints its sketches (256-row cut so estimate
    branches can't re-run the corpus scan), which hides the sketch plan
    behind a LogicalRDD — so pin the TakeOrdered on the un-checkpointed
    sketch plan directly, and pin the combine plan to scans of the
    checkpointed sketches (no corpus rescans) with no Python."""
    from pyspark.sql import functions as F

    from tinyetl_spark.operators.sketches import kmv_sketch
    from tinyetl_spark.queries import load

    docs = load(spark, SF_DIR, "documents")
    sk = kmv_sketch(docs.select(F.col("text").alias("s")), F.col("s"), checkpoint=False)
    sp = sk._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in sp

    p = plan_of(spark, "corpus_overlap_kmv")
    assert "Scan ExistingRDD" in p          # combine reads the checkpointed sketches
    assert "FileScan" not in p              # ...never the corpus again
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_source_overlap_matrix_pairs_never_touch_corpus(spark):
    """The pairwise estimate stage must read only the checkpointed
    |sources| x k sketch table: after the one corpus scan (hidden
    behind the checkpoint's LogicalRDD), no FileScan may appear in the
    combine plan, and the source-pair enumeration may cross only the
    distinct source lists."""
    p = plan_of(spark, "source_overlap_matrix")
    assert "Scan ExistingRDD" in p
    assert "FileScan" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_bpe_encode_is_dictionary_join_no_python(spark):
    """The registered encode is the DICTIONARY-JOIN form: doc words
    equi-join the word->symbols table (r12: rebuilt by folding the
    memoized frozen merge list over the word dictionary — one
    HashAggregate + in-row folds, so the per-process train is shared
    instead of re-run; each word's folds still run once per DISTINCT
    word, not per occurrence), then one per-doc regroup. No
    nested-loop cross, no Python."""
    p = plan_of(spark, "bpe_encode_docs")
    assert ("BroadcastHashJoin" in p) or ("SortMergeJoin" in p) or ("ShuffledHashJoin" in p)
    assert "HashAggregate" in p  # the word_freq dictionary build
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_all_registered_queries_emit_scalar_columns(spark):
    """Driver-comparability contract: the correctness driver
    canonicalizes results by sorting rows in pandas, which dies on
    unhashable cells — so every registered query must project
    array/map/struct values as scalars (comma-joined strings, exploded
    columns). pq_encode_vectors (round 5) and multimodal_byte_histogram
    were the two that slipped through; this pins all 167."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    bad = {}
    for name in sorted(QUERIES):
        df = QUERIES[name](spark, SF_DIR)
        off = [
            f.name
            for f in df.schema.fields
            if isinstance(f.dataType, (ArrayType, MapType, StructType))
        ]
        if off:
            bad[name] = off
    assert not bad, f"nested-typed driver columns: {bad}"


def test_dsir_select_broadcast_model_takeordered_no_python(spark):
    """DSIR selection: the fitted 4096-row log-ratio model must
    BROADCAST back into the pool's feature stream (the pool is never
    shuffled for the join), selection must be a TakeOrdered (no global
    sort of the pool), and no Python anywhere. The fit is not in this
    plan: the model is read from its checkpoint, so no SortMergeJoin."""
    p = plan_of(spark, "dsir_select_docs")
    assert "TakeOrderedAndProject" in p
    assert "BroadcastHashJoin" in p and "BroadcastExchange" in p
    assert "SortMergeJoin" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_dsir_fit_plan_one_bounded_join_no_python(spark, monkeypatch):
    """DSIR fit: the plan its checkpoint runs holds at most one
    SortMergeJoin, the bucket-model full outer join (<= 4096 rows a
    side — Spark's broadcast hash join does not support full outer),
    which is bounded by the feature space, not the corpus. No Python."""
    from tinyetl_spark.operators.dsir import dsir_fit
    from tinyetl_spark.queries import load

    docs = load(spark, SF_DIR, "documents")
    cls = type(docs)
    checkpoint = cls.localCheckpoint
    plans = []

    def spy(self, *args, **kwargs):
        plans.append(self._jdf.queryExecution().executedPlan().toString())
        return checkpoint(self, *args, **kwargs)

    monkeypatch.setattr(cls, "localCheckpoint", spy)
    dsir_fit(docs.filter("doc_id % 97 = 0"), docs.filter("doc_id % 97 <> 0"))
    (p,) = plans
    assert p.count("SortMergeJoin") <= 1
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_q5_broadcasts_all_dims_single_agg_shuffle(spark):
    """TPC-H Q5 chain: every dimension (orders-filtered, customer,
    supplier, nation, region) must broadcast — lineitem never shuffles
    for a join — leaving exactly the one aggregation exchange."""
    p = plan_of(spark, "q5_local_supplier_volume")
    assert p.count("BroadcastHashJoin") == 5
    assert "SortMergeJoin" not in p
    assert p.count("Exchange hashpartitioning") == 1


def test_q14_zero_shuffle_scalar_ratio(spark):
    """TPC-H Q14: the month filter pushes to the scan, part broadcasts,
    and the single-row ratio needs no hash exchange at all."""
    p = plan_of(spark, "q14_promo_revenue")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    assert p.count("Exchange hashpartitioning") == 0


def test_quality_classifier_broadcast_model_no_python(spark):
    """Each GD iteration must broadcast the 257-row model/margin tables
    back into the feature stream (never reshuffle it for a join), and
    the whole loop is JVM-side — no Python anywhere."""
    p = plan_of(spark, "quality_classifier_docs")
    assert "BroadcastHashJoin" in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_inference_batches_no_global_window(spark):
    """The corpus rank must be two-phase (range-bucketed local windows
    + broadcast offsets) — no unpartitioned single-reducer window, no
    Python."""
    p = two_phase_plan(spark, "inference_batches_docs")
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_vocab_coverage_bounded_slice(spark):
    """The coverage windows run on the bounded TakeOrdered top-k slice,
    never the full vocabulary: the plan must show the limit feeding the
    rank window."""
    p = plan_of(spark, "vocab_coverage_curve")
    assert "TakeOrderedAndProject" in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_trigram_search_uses_staged_index(spark):
    """The search must consume the STAGED posting-list parquet (a
    second FileScan besides the corpus) and broadcast the needle's
    trigram list — never a nested-loop join, never Python."""
    p = plan_of(spark, "trigram_search_docs")
    assert "trigram_index" in p  # staged index path appears in the scan
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_profile_lineitem_two_pass(spark):
    """The column profile is exactly TWO scan passes: a plain min/max
    aggregation (NO Expand mixed in — one agg holding min/max AND the
    distincts replans everything through the Expand, measured ~4x
    slower in the r12 re-measure) plus one distinct-only
    count_distinct agg (its Expand → partial hash-agg on native values
    replaced the r9 stack-unpivot string distinct pass, 2.2x faster at
    equal exactness). Never per-column job fan-out or Python."""
    p = plan_of(spark, "profile_lineitem")
    assert p.count("FileScan") == 2
    assert "Expand" in p  # the distinct-only pass
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_q6_pure_pushdown_no_join_no_hash_shuffle(spark):
    """TPC-H Q6 is the canonical scan-efficiency probe: all four
    predicates must reach the parquet scan, there is no join at all,
    and the single-row aggregate needs no hash exchange."""
    p = plan_of(spark, "q6_forecast_revenue")
    pushed = p.split("PushedFilters:")[1][:240]
    assert "l_shipdate" in pushed and "l_discount" in pushed and "l_quantity" in pushed
    assert "Join" not in p
    assert p.count("Exchange hashpartitioning") == 0


def test_q7_broadcasts_all_seven_dims_single_agg_shuffle(spark):
    """TPC-H Q7 bloc chain: supplier, both nation/region arms, orders,
    and customer all broadcast — lineitem never shuffles for a join —
    leaving exactly the group-by exchange."""
    p = plan_of(spark, "q7_volume_shipping")
    assert p.count("BroadcastHashJoin") == 7
    assert "SortMergeJoin" not in p
    assert p.count("Exchange hashpartitioning") == 1


def test_q16_not_in_is_broadcast_anti_join(spark):
    """The NOT IN supplier exclusion must compile to a broadcast LEFT
    ANTI join against the tiny negative-balance list, never a
    sort-merge or nested-loop anti."""
    p = plan_of(spark, "q16_supplier_variety")
    assert "BroadcastHashJoin" in p and "LeftAnti" in p
    assert "SortMergeJoin" not in p and "BroadcastNestedLoopJoin" not in p


def test_q18_having_keys_broadcast_semi_takeordered(spark):
    """TPC-H Q18: the HAVING-subquery survivors broadcast back as a
    LEFT SEMI (the fact table is never widened by the self-join) and
    the LIMIT is a TakeOrderedAndProject, not a global sort."""
    p = plan_of(spark, "q18_large_orders")
    assert "LeftSemi" in p and "BroadcastHashJoin" in p
    assert "TakeOrderedAndProject" in p


def test_q19_disjunction_single_scan_no_hash_shuffle(spark):
    """TPC-H Q19's OR-of-ANDs: one lineitem scan, part broadcast, the
    disjunction in codegen — no hash exchange for the scalar agg."""
    p = plan_of(spark, "q19_disjunctive_revenue")
    assert p.count("BroadcastHashJoin") == 1
    assert "SortMergeJoin" not in p
    assert p.count("Exchange hashpartitioning") == 0


def test_q21_folded_exists_no_rescans_no_cartesian(spark):
    """Q21's EXISTS/NOT-EXISTS pair is folded into ONE per-order
    aggregate — lineitem appears at most twice (flagged lines + the
    per-order counts), never four times, and nothing goes nested-loop."""
    p = plan_of(spark, "q21_waiting_supplier")
    assert p.count("FileScan") <= 4  # lineitem x2 + orders + supplier
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert "TakeOrderedAndProject" in p


def test_q22_cross_mult_scalar_broadcast_anti(spark):
    """Q22's above-average test must stay a 1-row broadcast (cross
    multiply in decimals, no per-row mean recompute) and the
    no-recent-orders test a broadcast anti join."""
    p = plan_of(spark, "q22_idle_customers")
    assert "LeftAnti" in p
    assert "SortMergeJoin" not in p


def test_q11_reuses_partval_exchange_at_runtime(spark):
    """Q11's grand total re-aggregates the per-part sums: the printed
    initial plan shows the subtree twice, but AQE must collapse it to
    ONE ReusedExchange at runtime so the lineitem scan + bloc join +
    partial agg run once; the 1-row threshold joins back broadcast."""
    df = QUERIES["q11_important_parts"](spark, SF_DIR)
    df.collect()
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in p
    assert "SortMergeJoin" not in p


def test_q4_exists_is_semi_join_date_pushed(spark):
    """Q4's EXISTS must compile to a LEFT SEMI join (lineitem never
    widens orders — at most one match per order), with the quarter
    date range pushed to the orders scan and the returnflag filter
    pushed to the lineitem scan."""
    p = plan_of(spark, "q4_priority_check")
    assert "LeftSemi" in p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    pushed = p.split("PushedFilters:")
    assert len(pushed) >= 3  # both scans carry pushed predicates
    assert any("o_orderdate" in seg[:250] for seg in pushed[1:])
    assert any("l_returnflag" in seg[:250] for seg in pushed[1:])


def test_q12_pushes_year_filter_no_cartesian(spark):
    """Q12's single-year shipdate range must reach the lineitem scan;
    the cross-table lateness predicate stays a post-join filter, never
    a nested-loop condition."""
    p = plan_of(spark, "q12_late_shipments")
    pushed = p.split("PushedFilters:")[1][:200]
    assert "l_shipdate" in pushed
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert p.count("FileScan") == 2


def test_q13_left_join_double_aggregation(spark):
    """Q13 is the canonical double-aggregation: a LEFT outer join that
    keeps zero-order customers, then exactly two hash aggregations
    (custkey, then c_count) — no extra exchanges, no inner-join
    downgrade of the outer side."""
    p = plan_of(spark, "q13_customer_distribution")
    assert "LeftOuter" in p
    assert p.count("Exchange hashpartitioning") == 2
    assert "CartesianProduct" not in p


def test_q20_semi_join_no_second_lineitem_scan(spark):
    """Q20's per-part total re-aggregates the (suppkey, partkey) sums
    and joins back broadcast — lineitem is scanned for the sums only
    (twice in the printed plan, collapsed by AQE reuse at runtime,
    never a third time for the supplier filter), and the IN compiles
    to a LEFT SEMI."""
    p = plan_of(spark, "q20_dominant_suppliers")
    assert "LeftSemi" in p
    assert "SortMergeJoin" not in p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_bloom_semi_join_probe_is_codegen_no_python(spark):
    """The bloom probe must run inside the fact scan's codegen — the
    packed words as an array literal with shift/mask bit tests, no
    Python, no sort-merge join, and the exact pass a broadcast semi."""
    p = plan_of(spark, "bloom_semi_join_orders")
    assert "xxhash64" in p and "shiftright" in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "SortMergeJoin" not in p
    assert "BroadcastHashJoin" in p and "LeftSemi" in p


def test_hll_distinct_single_register_aggregation(spark):
    """HLL registers must build in one map-side-combined groupBy (no
    Python, no window) and the estimate math stays in codegen."""
    p = plan_of(spark, "hll_distinct_users")
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "Window" not in p


def test_scd2_single_shuffle_single_window(spark):
    """SCD2 must be union -> ONE key exchange -> ONE window pass
    (lead + row_number share the spec) — never a self-join."""
    p = plan_of(spark, "scd2_customer_history")
    assert p.count("Exchange hashpartitioning") == 1
    assert p.count("Window") == 1
    assert "Join" not in p


def test_rollup_cascade_raw_touched_once(spark):
    """The cascade's contract: ONE FileScan of raw events (each higher
    resolution aggregates the level below, not the raw table) and one
    exchange per level at most."""
    p = plan_of(spark, "rollup_cascade_events")
    assert p.count("FileScan") == 1
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_triangle_count_no_cartesian_no_python(spark, monkeypatch):
    """Triangle counting must stay equi-join shaped (wedge + closure
    joins on node ids) — no nested-loop/cartesian blowup, no Python,
    and the staged pair table feeds it (no simhash recompute). The
    degree table is localCheckpointed, which hides the pair scan from
    the final plan, so the staged dependency is asserted on the plans
    handed to localCheckpoint."""
    frame_cls = type(spark.range(1))
    checkpointed: list[str] = []
    local_checkpoint = frame_cls.localCheckpoint

    def spy(self, *a, **kw):
        checkpointed.append(self._jdf.queryExecution().executedPlan().toString())
        return local_checkpoint(self, *a, **kw)

    monkeypatch.setattr(frame_cls, "localCheckpoint", spy)
    p = plan_of(spark, "triangle_count_dups")
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert checkpointed, "degree table is no longer checkpointed"
    deg = checkpointed[0]
    assert "simhash_pairs" in deg  # staged parquet path
    assert "BatchEvalPython" not in deg and "ArrowEvalPython" not in deg


def test_perplexity_buckets_two_phase_no_source_window(spark):
    """The CCNet tiling must use the two-phase rank: the single window
    partitions on (source, score-bin) — never on source alone, which
    would funnel a dominant source through one task — and ntile is
    closed-form off the lifted rank (no ntile operator in the plan)."""
    p = two_phase_plan(spark, "perplexity_buckets", by=("source",))
    assert p.count("Window") == 1
    assert "ntile" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_hist_quantiles_window_on_bins_only(spark):
    """The cumulative window runs over the <=512-bin sketch — the raw
    orders table must appear exactly once per consumer branch and
    never under the window's sort."""
    p = plan_of(spark, "hist_quantiles_prices")
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "Window" in p


def test_priority_sample_single_scan_no_shuffle(spark):
    """Priority sampling must read the corpus exactly once, reduce it
    via TakeOrderedAndProject (per-partition top-(k+1) heaps — never a
    full Sort or a hash/range shuffle of the corpus), and keep the
    priority expression in codegen. The tau window is legal only
    because it sits above the 101-row limit."""
    p = plan_of(spark, "priority_sample_docs")
    assert p.count("FileScan") == 1
    assert p.count("TakeOrderedAndProject") == 1
    assert "Exchange hashpartitioning" not in p
    assert "Exchange rangepartitioning" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_pmi_support_filter_before_joins_takeordered(spark):
    """PMI collocations must cut the pair table on min-support BEFORE
    the two word-keyed joins (the filter sits under both joins in the
    plan), finish with TakeOrderedAndProject (never a full Sort), and
    stay Python-free."""
    p = plan_of(spark, "pmi_collocations")
    assert p.count("TakeOrderedAndProject") == 1
    assert "Sort " not in p.replace("SortMergeJoin", "")
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    # the support filter is below the first join: it appears after the
    # first Join line in top-down plan text
    first_join = min(
        i for i in (p.find("BroadcastHashJoin"), p.find("SortMergeJoin"),
                    p.find("ShuffledHashJoin")) if i >= 0
    )
    assert 0 <= p.find(">= 3") and p.find(">= 3") > first_join


def test_ql_search_filter_before_shuffle_takeordered(spark):
    """Query-likelihood retrieval must filter the term stream to the
    query's terms before any aggregation shuffle, keep corpus stats as
    broadcasts/scalars, stay Python-free, and reduce through one
    TakeOrderedAndProject."""
    p = plan_of(spark, "ql_search_docs")
    assert p.count("TakeOrderedAndProject") == 1
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "BroadcastHashJoin" in p  # query-term and corpus-count joins


def test_hybrid_rrf_windows_bounded_by_pool_limits(spark):
    """RRF fusion: each retriever reduces the corpus via its own
    TakeOrderedAndProject before any ranking window runs, so both
    single-partition windows operate on 50-row pools; the fused cut is
    a third TakeOrdered. No Python anywhere."""
    p = plan_of(spark, "hybrid_search_docs")
    # bounds, not exact counts (round-7 ADVICE): >=3 keeps every pool
    # and the fused cut reducing via TakeOrdered; <=2 keeps any
    # corpus-scale window from sneaking in beside the two rank windows
    assert p.count("TakeOrderedAndProject") >= 3
    assert p.count("Window") <= 2
    # windows sit ABOVE the retriever TakeOrdereds in top-down text
    first_window = p.find("Window")
    assert first_window >= 0
    assert p.find("TakeOrderedAndProject", first_window) > first_window
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_retrieval_ndcg_pools_before_windows_no_python(spark):
    """The nDCG harness evaluates three retrievers: every ranking
    window must sit above a TakeOrdered pool (8 windows, 8 TakeOrdered
    reductions — nothing windows the corpus), with no Python and no
    cartesian product; the discount table joins as a broadcast."""
    p = plan_of(spark, "retrieval_ndcg")
    # bounds, not exact counts (round-7 ADVICE; was ==6/==8/==1, which
    # is brittle against Spark/AQE/broadcast-threshold changes): at
    # least one pool reduction per retriever; no window beyond the 8
    # rank/cumulation windows (a corpus-scale window would add one)
    assert p.count("TakeOrderedAndProject") >= 3
    assert p.count("Window") <= 8
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "CartesianProduct" not in p
    # at most one sort-merge join (hybrid's internal full-outer of two
    # 50-row rank lists); the relevance joins must broadcast the 10-row
    # side, never shuffle the relevance table
    assert p.count("SortMergeJoin") <= 1


def test_vocab_growth_one_word_shuffle_window_on_prefixes(spark):
    """The Heaps'-law curve must reduce the corpus through word-keyed
    and prefix-keyed aggregations (map-side combined) before any
    window: exactly one window (the cumulative sums over the 8-row
    prefix table) and no Python."""
    p = plan_of(spark, "vocab_growth_curve")
    assert p.count("Window") == 1
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    # the window's sort input is the 8-row prefix join, not the corpus:
    # no range-partition (global sort) exchange anywhere
    assert "Exchange rangepartitioning" not in p


def test_dedup_recall_audit_bounded_bruteforce_no_python(spark):
    """The dedup quality audit: the only nested-loop joins are the
    intentional cap-bounded brute-force pair join and the 1-row metric
    cross joins; no Python anywhere."""
    p = plan_of(spark, "dedup_recall_audit")
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert p.count("BroadcastNestedLoopJoin") <= 2
    assert "CartesianProduct" not in p


def test_ngram_diversity_two_agg_passes_no_window(spark):
    """Distinct-n diversity is pure map-side-combined aggregation:
    no window, no Python, no cartesian; the per-group distinct runs as
    Spark's partial-distinct expand/agg, never a corpus sort."""
    p = plan_of(spark, "ngram_diversity_sources")
    assert "Window" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "CartesianProduct" not in p
    # the only global sort is the final orderBy of the 20-row result
    assert p.count("Exchange rangepartitioning") <= 1


def test_zipf_slope_group_keyed_window_no_global_sort(spark):
    """The Zipf fit ranks word counts inside a (group)-keyed window —
    bounded per-group state — and must never globally sort the corpus
    or call Python; the 20-row final fit is plain aggregation."""
    p = plan_of(spark, "zipf_slope_sources")
    assert p.count("Window [") == 1
    # Spark pushes the rank limit below the shuffle: only the top-64
    # rows per group survive the map side (the bounded-state claim)
    assert "WindowGroupLimit" in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    # group-keyed rank: the window's exchange is hashpartitioning on
    # the group; the only rangepartitioning is the final orderBy of
    # the 20-row fit table, never a global sort of word counts
    assert p.count("Exchange rangepartitioning") <= 1


def test_containment_dups_reuses_staged_candidates_no_python(spark):
    """Containment verify must consume the STAGED candidate parquet
    (same table the jaccard verify reads — no signature recompute) and
    keep the k-gram explosion JVM-side."""
    p = plan_of(spark, "containment_dups")
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "CartesianProduct" not in p
    # verify joins are equi-joins on candidate ids, never nested-loop
    assert "BroadcastNestedLoopJoin" not in p


def test_hard_negatives_batched_single_corpus_pass(spark):
    """Batched BM25 hard-negative mining: ONE corpus scan fans out to
    all queries via a broadcast (qid, term) map; document frequencies
    broadcast; the per-query top-k is a qid-keyed window, never a
    global sort of the corpus."""
    p = plan_of(spark, "hard_negatives_bm25")
    assert p.count("Window [") == 1
    # rank-limit pushdown: at most top_k negative rows per query
    # survive the map side of the window shuffle
    assert "WindowGroupLimit" in p
    assert p.count("BroadcastHashJoin") >= 2  # query map + df_t joins
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "CartesianProduct" not in p
    # the only global sort is the final orderBy of the <=30-row output
    assert p.count("Exchange rangepartitioning") <= 1


def test_containment_recall_audit_bounded_bruteforce_no_python(spark):
    """The containment audit's brute-force truth runs as ONE
    cap-bounded Arrow kernel (MapInPandas over the coalesced slice —
    the designed Pandas-UDF set, r12: replaced the JVM nested-loop
    join whose per-pair array_intersect rebuilt string hash sets); the
    union candidate generator contributes only equi-joins (posting
    join + bucket-cap semi), the remaining nested-loop joins are the
    1-row metric cross joins, and nothing is row-at-a-time Python."""
    p = plan_of(spark, "containment_recall_audit")
    assert "BatchEvalPython" not in p
    # the truth table sits behind its checkpoint barrier (the Arrow
    # kernel itself is value-pinned by the planted-fixture tests); the
    # r11 form's cap^2 BroadcastNestedLoopJoin truth join is GONE —
    # only the 1-row metric cross joins remain
    assert "Scan ExistingRDD" in p
    assert p.count("BroadcastNestedLoopJoin") <= 2  # 1-row metric crosses
    assert "CartesianProduct" not in p
    # the kernel is in the TRUTH subtree: one MapInPandas, one task
    from tests.conftest import SF_DIR
    from tinyetl_spark.operators import dedup
    from tinyetl_spark.queries import load
    from pyspark.sql import functions as F

    docs = load(spark, SF_DIR, "documents").filter(F.col("doc_id") < 300)
    gs = docs.select(
        F.col("doc_id").alias("jid"),
        dedup.norm_text_col("text").alias("_nt"),
    ).select("jid", dedup._char_ngrams_from("_nt").alias("gs"))
    tp = dedup._containment_truth_pairs(gs, 0.8)
    tpp = tp._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in tpp
    assert "BatchEvalPython" not in tpp and "Join" not in tpp


def test_unigram_encode_dictionary_join_no_python(spark):
    """Unigram encode is the dictionary-join shape: the Viterbi DP is
    an in-row fold (no Python, no window over the corpus), the
    word→tokens dictionary equi-joins into the exploded corpus, and
    nothing is cartesian. (The EM iterations run before this plan —
    vocabulary-sized collects, like bpe_train's winning rows.)"""
    p = plan_of(spark, "unigram_encode_docs")
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_tokenizer_compare_staged_scalar_aggs(spark):
    """The six-way tokenizer comparison reads the five STAGED encode
    tables (no re-train in this plan) plus the inline restricted-vocab
    encode (a broadcast dictionary join, its totals-only row), and
    reduces everything to scalar aggregates; the only nested-loop
    joins are the 1-row broadcast crosses (one per output row)."""
    p = plan_of(spark, "tokenizer_compare")
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "CartesianProduct" not in p
    assert p.count("BroadcastNestedLoopJoin") <= 8  # 1-row metric crosses


def test_wordpiece_byte_fallback_is_staged_scan(spark):
    """The byte-fallback encode artifact is a parquet scan of the
    staged table (write-once/read-many, same contract as
    tokenized_corpus): no joins, no Python, no re-train in the
    consuming plan."""
    p = plan_of(spark, "wordpiece_byte_fallback_docs")
    assert "wordpiece_bf_encoded" in p  # reads the staged table
    assert "Join" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_wordpiece_train_merges_no_python(spark):
    """WordPiece training's reported plan (the merge table) carries no
    Python row evaluation; the scored-pair selection ran before this
    plan as vocabulary-sized collects (one winner row per iteration,
    same contract as bpe_train_merges)."""
    p = plan_of(spark, "wordpiece_train_merges")
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_wordpiece_encode_dictionary_join_no_python(spark):
    """WordPiece encode is the dictionary-join shape: the greedy
    longest-match walk is an in-row fold over a broadcast vocabulary
    map (no Python, no corpus window), the word→tokens dictionary
    BROADCAST-equi-joins into the exploded corpus, and nothing is
    cartesian."""
    p = plan_of(spark, "wordpiece_encode_docs")
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "BroadcastHashJoin" in p  # the dictionary join


def test_unigram_prune_encode_dictionary_join_no_python(spark):
    """The pruned-tokenizer encode keeps the dictionary-join shape:
    in-row Viterbi fold, word→tokens dictionary equi-joined (broadcast)
    into the exploded corpus; the prune decisions ran before this plan
    (vocabulary-sized driver arithmetic). Pinned on the BUILD plan —
    the staged artifact itself is just a parquet scan."""
    from tests.conftest import SF_DIR
    from tinyetl_spark.operators import tokenizer
    from tinyetl_spark.queries import load

    df = tokenizer.unigram_prune_encode(load(spark, SF_DIR, "documents"))
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "CartesianProduct" not in p
    assert "BroadcastHashJoin" in p  # dictionary broadcast-joins the corpus


def test_tokenized_corpus_is_staged_scan(spark):
    """The canonical token-stream artifact is a parquet scan of the
    staged encode — the write-once/read-many contract: no joins, no
    Python, no re-train in the consuming plan."""
    p = plan_of(spark, "tokenized_corpus")
    assert "unigram_encoded" in p  # reads the staged table
    assert "Join" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_rpq3_rerank_staged_codes_takeordered_no_python(spark):
    """3-stage RPQ rerank: the ADC shortlist scans the STAGED code
    parquet (never re-encodes), both the shortlist and the final cut
    are TakeOrdered reductions, the shortlist semi-joins back to the
    float vectors, and nothing is Python."""
    p = plan_of(spark, "ann_rpq3_rerank_topk")
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "CartesianProduct" not in p
    assert p.count("TakeOrderedAndProject") >= 2  # shortlist + final cut
    assert "rpq3_codes" in p  # staged code table, not a re-encode


def test_ann_budget_curve_staged_no_reencode_no_python(spark):
    """The r12 batched form: the WHOLE 72-point grid is ONE plan in
    which every staged input is scanned exactly ONCE — each codec's
    code table feeds a probe-exploded metric pass ranked per probe by
    row_number, and the rank filters compile to WindowGroupLimit
    (map-side partial top-k per probe BEFORE the exchange, the
    scale-soundness guarantee for the probe-partitioned windows). No
    re-encode, no Python, no cartesian, and the ground truth joins as
    a broadcast."""
    p = plan_of(spark, "ann_budget_curve")
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "CartesianProduct" not in p
    # each staged code table is scanned exactly once (no per-point
    # re-reads, no re-encode of the corpus)
    for staged in ("rpq3_codes", "pq_codes", "binary_codes", "ivf_index"):
        assert p.count(staged) == 1, staged
    assert 1 <= p.count("ann_ground_truth") <= 2  # broadcast (may reuse)
    # the rank<=wmax / rank<=k filters run as map-side group limits
    assert "WindowGroupLimit" in p
    assert p.count("BroadcastHashJoin") >= 3  # shortlists, truth, dims


def test_unigram_budget_curve_driver_sized_result(spark):
    """The budget curve's EM chains and dictionary totals run BEFORE
    this plan (vocabulary/dictionary-sized); the final plan is just
    the 3-row literal result — no corpus scan, no join, no Python."""
    p = plan_of(spark, "unigram_budget_curve")
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "FileScan" not in p and "Join" not in p
    """PNG decode is DESIGNED Pandas-UDF territory (stdlib zlib per
    payload): the plan must show the Arrow-batched evaluator, never the
    row-at-a-time Python one."""
    p = plan_of(spark, "multimodal_decode_png")
    assert "ArrowEvalPython" in p or "MapInPandas" in p
    assert "BatchEvalPython" not in p


def test_multimodal_jpeg_arrow_batched(spark):
    """Same contract for the baseline-JPEG codec (stdlib Huffman +
    numpy IDCT per payload): Arrow-batched, never row-at-a-time."""
    p = plan_of(spark, "multimodal_decode_jpeg")
    assert "ArrowEvalPython" in p or "MapInPandas" in p
    assert "BatchEvalPython" not in p


def test_rm3_second_pass_broadcasts_model_no_python(spark):
    """RM3's weighted second pass (the feedback pool and expansion
    model sit behind lazy checkpoints, so the final plan shows only
    this pass): the expanded-term table must join as a BROADCAST into
    the pruned posting stream (never a shuffle of the corpus against a
    13-row table), the final cut is a TakeOrdered, and nothing is
    Python, cartesian, or a global sort."""
    p = plan_of(spark, "rm3_expanded_search")
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "CartesianProduct" not in p
    assert p.count("TakeOrderedAndProject") >= 1  # final cut
    assert p.count("BroadcastHashJoin") >= 1  # expansion model join
    assert "SortMergeJoin" not in p
    assert "Exchange rangepartitioning" not in p


def test_rho_select_broadcast_model_takeordered(spark):
    """RHO-loss selection: the unigram model table broadcasts into the
    exploded corpus (never a corpus-side shuffle for the join), the
    per-doc reduce is a hash aggregate, and the top-k is a TakeOrdered
    — no global sort, no Python, nothing cartesian except the two
    1-row total crosses."""
    p = plan_of(spark, "rho_select_docs")
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "CartesianProduct" not in p
    assert "BroadcastHashJoin" in p
    assert "TakeOrderedAndProject" in p


def test_doremi_weights_broadcast_model_no_python(spark):
    """DoReMi domain weights: the model table broadcasts into the
    exploded corpus, the domain reduce is a hash aggregate, no Python
    anywhere; the only nested-loop is the 1-row totals cross."""
    p = plan_of(spark, "doremi_domain_weights")
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "CartesianProduct" not in p
    assert "BroadcastHashJoin" in p
    assert p.count("BroadcastNestedLoopJoin") <= 1


def test_wordpiece_encode_batch_is_arrow_pure_map(spark):
    """The production WordPiece encoder is Arrow mapInPandas with zero
    shuffle — a pure map over the scan (the vocabulary ships as task
    state, never as a join)."""
    p = plan_of(spark, "wordpiece_encode_batch_docs")
    assert "MapInPandas" in p
    assert "BatchEvalPython" not in p
    assert "Exchange" not in p


def test_mink_prob_broadcast_model_takeordered(spark):
    """Min-K%: broadcast model join, in-row tail selection (no window
    over the corpus, no global sort), TakeOrdered top rows."""
    p = plan_of(spark, "mink_prob_docs")
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "BroadcastHashJoin" in p
    assert "TakeOrderedAndProject" in p
    assert "Window" not in p


def test_quality_ensemble_no_global_window_no_python(spark):
    """The ensemble's three corpus ranks run per-BUCKET (every Window
    is partitioned — no single-reducer global sort); fusion joins are
    on doc_id; final cut is a TakeOrdered."""
    p = two_phase_plan(spark, "quality_ensemble_docs")
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "CartesianProduct" not in p
    assert "TakeOrderedAndProject" in p


def test_concat_chunks_no_global_window_no_python(spark):
    """Concat-chunk packing: the stream-offset prefix sum runs under
    bucket-partitioned windows only (no single-reducer global sort),
    offsets ride as a literal map (no join for them), no Python."""
    p = two_phase_plan(spark, "concat_chunks_docs")
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "CartesianProduct" not in p


def test_binary_rerank_staged_codes_takeordered(spark):
    """Binary serving reads the STAGED sign-bit code table (no
    re-encode in plan), shortlists by Hamming via TakeOrdered, and
    stays Python-free."""
    p = plan_of(spark, "ann_binary_rerank_topk")
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "TakeOrderedAndProject" in p
    assert "binary_codes" in p  # staged parquet scan


def test_kn_logprob_broadcast_models_no_python(spark):
    """KN scoring: the three bounded model tables broadcast into the
    bigram position table (never a corpus-side shuffle for the
    lookups), no Python, nothing cartesian."""
    p = plan_of(spark, "kn_logprob_docs")
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "CartesianProduct" not in p
    assert p.count("BroadcastHashJoin") >= 3


def test_dedup_rate_by_source_two_aggregates(spark):
    """The duplication report: in-row fingerprints (no Python), one
    fingerprint groupBy + one source reduce — nothing cartesian."""
    p = plan_of(spark, "dedup_rate_by_source")
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "CartesianProduct" not in p


def test_classifier_eval_two_phase_auc_no_python(spark):
    """The eval's AUC prefix sum must be two-phase (every window
    partitioned by the range bucket — no single-reducer window over
    the distinct-margin table), the model joins broadcast, and the
    only crosses are the three 1-row scalar-metric combines."""
    p = two_phase_plan(spark, "classifier_eval_audit")
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    # (the broadcast-model margin join lives behind the scored
    # localCheckpoint barrier; quality_classifier's pin covers it)
    assert p.count("BroadcastNestedLoopJoin") <= 2  # 1-row x 1-row metric combines
    assert "CartesianProduct" not in p


def test_calibration_bins_single_agg_no_python(spark):
    """Calibration is ONE map-side-combined groupBy into <=10 rows on
    top of the broadcast-scored base — no windows, no Python."""
    p = plan_of(spark, "classifier_calibration_bins")
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "Window" not in p
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p


def test_threshold_curve_one_verify_pass_no_python(spark):
    """The whole 5-point curve must cost one verify pass: the staged
    candidate parquet feeds the pair join, the unpivot is a stack over
    one aggregate row (Expand handles the count-distinct fan-out), and
    nothing evaluates in Python."""
    p = plan_of(spark, "near_dup_threshold_curve")
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    # the verify barrier (jaccard_stats checkpoint) is the plan's only
    # input: the curve never re-joins candidates or re-shingles docs
    assert "Expand" in p  # the 5-threshold count-distinct fan-out
    assert p.count("FileScan") == 0  # everything off the staged barrier
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_source_logodds_broadcast_totals_no_python(spark):
    """Per-source totals must broadcast (never reshuffle the term
    table for a |sources|-row join); the top-k window partitions by
    source over the pruned vocabulary; no Python anywhere."""
    p = plan_of(spark, "source_logodds_terms")
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    for frag in p.split("Window")[1:]:
        assert "src" in frag[:250]


def test_matryoshka_recall_staged_truth_no_python(spark):
    """The r12 batched form: the whole |probes|×|dims| grid is ONE
    plan — one corpus scan feeds a (probe, dim)-exploded cosine pass
    ranked per cell by row_number, whose rank filter compiles to
    WindowGroupLimit (map-side partial top-k per cell BEFORE the
    exchange); the STAGED ground truth joins as a broadcast (no brute
    recompute per dim); JVM-side throughout."""
    p = plan_of(spark, "ann_recall_matryoshka")
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "ann_ground_truth" in p
    assert "WindowGroupLimit" in p
    assert p.count("embeddings.parquet") == 1  # one corpus scan, not 16
    assert "CartesianProduct" not in p


def test_source_psi_drift_one_corpus_shuffle_no_python(spark):
    """PSI must touch the corpus ONCE (length-only groupBy; the grid
    and bin tables are broadcast-sized) and stay JVM-side."""
    p = plan_of(spark, "source_psi_drift")
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert "Window" not in p


def test_label_centroid_report_broadcast_centroids_no_python(spark):
    """Centroids must come from ONE explode shuffle with partial
    DECIMAL sums and broadcast back for the tightness join; the only
    nested loop is the |labels|^2 confusion grid; no Python."""
    p = plan_of(spark, "label_centroid_report")
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "BroadcastHashJoin" in p
    assert p.count("BroadcastNestedLoopJoin") <= 1  # the 10x10 grid
    assert "CartesianProduct" not in p


def test_hard_negatives_ann_literal_query_no_python(spark):
    """Query vectors must fold in as literal arrays (zero joins of any
    kind in the plan), ranking via TakeOrdered; no Python."""
    p = plan_of(spark, "hard_negatives_ann")
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "TakeOrderedAndProject" in p
    assert "Join" not in p  # no BroadcastHashJoin/SMJ/NLJ at all


def test_lsh_parameter_curve_one_signature_pass_no_python(spark):
    """All three band configs must hang off ONE signature subtree (the
    checkpoint barrier): the plan shows the banding groupBys but no
    Python and no unbounded cross joins beyond the audit's bounded
    brute-force truth join."""
    p = plan_of(spark, "lsh_parameter_curve")
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "CartesianProduct" not in p
    # scalar-metric combines only: each config row is 1-row x 1-row
    assert p.count("BroadcastNestedLoopJoin") <= 6


def test_kn3_broadcast_models_no_python(spark):
    """All five trigram model tables must broadcast back into the
    position stream (the corpus is never reshuffled for the score
    join); no Python."""
    p = plan_of(spark, "kn3_logprob_docs")
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert p.count("BroadcastHashJoin") >= 5
    assert "SortMergeJoin" not in p
    assert "CartesianProduct" not in p


def test_classifier_threshold_curve_single_agg_no_python(spark):
    """The 5-point sweep must be ONE aggregate over the scored base
    (stack-unpivot), no windows, no Python."""
    p = plan_of(spark, "classifier_threshold_curve")
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "Window" not in p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_ann_recall_rpq3_rerank_batched_shape(spark):
    """The r12 batched recall form: ONE scan of the staged rpq3 code
    table feeds a probe-exploded ADC pass whose rank<=shortlist filter
    compiles to WindowGroupLimit; ONE broadcast rerank join back to the
    embeddings (scanned once); ONE broadcast ground-truth join. The
    probe-INDEPENDENT ADC cross tables ride a 1-row broadcast
    LocalRelation (data, not literals — 4 inlined copies were the
    construction wall). No Python, no cartesian product."""
    p = plan_of(spark, "ann_recall_rpq3_rerank")
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "CartesianProduct" not in p
    assert p.count("rpq3_codes") == 1  # one code-table scan, not 4
    assert p.count("embeddings.parquet") == 1  # one rerank join source
    assert "ann_ground_truth" in p
    assert "WindowGroupLimit" in p
    assert "ExistingRDD" in p  # the cross tables as a 1-row data scan


def test_ann_recall_lsh_batched_one_scan(spark):
    """The r12 batched sign-LSH recall form: the probe bucket sets are
    decided driver-side, so ALL probes ride one corpus scan with
    per-probe bucket-set guards — one embeddings read (before: one per
    probe), rank<=k as WindowGroupLimit, staged ground truth, no
    Python. Same pin for multiprobe (Hamming-1 bucket sets)."""
    for name in ("ann_recall_lsh", "ann_recall_multiprobe"):
        p = plan_of(spark, name)
        assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
        assert p.count("embeddings.parquet") == 1, name
        assert "WindowGroupLimit" in p, name
        assert "ann_ground_truth" in p, name
        assert "CartesianProduct" not in p, name


def test_ann_recall_int8_staged_truth_no_python(spark):
    """int8 recall must read the staged ground truth, rank via
    TakeOrdered off the shared code table, and stay JVM-side."""
    p = plan_of(spark, "ann_recall_int8")
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "ann_ground_truth" in p
    assert "TakeOrderedAndProject" in p
    assert "CartesianProduct" not in p


def test_dup_cluster_size_hist_two_groupbys_no_python(spark):
    """Two map-side-combined groupBys on in-row fingerprints; no
    joins, no windows, no Python."""
    p = plan_of(spark, "dup_cluster_size_hist")
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "Join" not in p and "Window" not in p


def test_dedup_quality_impact_staged_no_python(spark):
    """One verify pass off the staged barrier; the removed flag is a
    left join; quality is in-row; no Python."""
    p = plan_of(spark, "dedup_quality_impact")
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "CartesianProduct" not in p


def test_classifier_bias_by_source_one_groupby_no_python(spark):
    """Scored base + one source join + one groupBy into |sources|
    rows; no windows, no Python."""
    p = plan_of(spark, "classifier_bias_by_source")
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "Window" not in p
    assert "CartesianProduct" not in p


def test_classifier_auc_by_source_two_phase_no_python(spark):
    """Every prefix-sum window must partition by (source, bucket); the
    offset lift is a literal map (no offsets join); no Python."""
    p = two_phase_plan(spark, "classifier_auc_by_source", by=("_src",))
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "CartesianProduct" not in p


def test_embedding_dim_profile_one_explode_no_python(spark):
    """One posexplode groupBy with DECIMAL partial sums into |dims|
    rows; the total join is a 1-row broadcast; no Python."""
    p = plan_of(spark, "embedding_dim_profile")
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "CartesianProduct" not in p
    assert p.count("BroadcastNestedLoopJoin") <= 1  # the 1-row total


def test_lm_ladder_compare_no_python(spark):
    """Four scalar aggregates over the LM tiers' own plans; broadcast
    model joins inside, no Python anywhere. Since r12 the four tiers
    share ONE checkpointed tokenized word-array base — the plan must
    read the materialized RDD, never re-scan + re-tokenize the corpus
    per tier (30 parquet-scan subtrees before the change, 0 after)."""
    p = plan_of(spark, "lm_ladder_compare")
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "CartesianProduct" not in p
    assert "Scan parquet" not in p  # tokenize once: tiers read the checkpoint
    assert "ExistingRDD" in p


def test_multimodal_near_dups_staged_pair_scan(spark):
    """The perceptual pair table is a parquet scan of the staged
    artifact (pairs -> clusters -> survivors is one DAG with a
    materialization barrier after the pair join, same as the text
    side's simhash_pairs): no joins, no Python in the consuming plan."""
    p = plan_of(spark, "multimodal_near_dups")
    assert "dhash_pairs" in p  # reads the staged table
    assert "Join" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_multimodal_audio_near_dups_staged_pair_scan(spark):
    """The audio pair table is a parquet scan of the staged artifact
    (round 12 — the same write-once contract as the image tier's
    dhash_pairs): the Arrow fingerprint codec and the banded join ran
    at staging time, so the consuming plan is a pure scan."""
    p = plan_of(spark, "multimodal_audio_near_dups")
    assert "afp_pairs" in p  # reads the staged table
    assert "Join" not in p
    assert "MapInPandas" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_multimodal_dup_survivors_broadcast_anti(spark):
    """Perceptual survivors = corpus broadcast-ANTI-join against the
    non-canonical cluster members (the cluster table is dup-involved
    images only — tiny at any scale); the CC rounds ran before this
    plan behind eager checkpoints."""
    p = plan_of(spark, "multimodal_dup_survivors")
    assert "BroadcastHashJoin" in p and "LeftAnti" in p
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_wordpiece_bf_encode_batch_is_arrow_pure_map(spark):
    """The byte-fallback production encoder stays a pure Arrow map
    over the scan (vocabulary ships as task state): no shuffle in the
    encode subtree, no row-at-a-time Python."""
    p = plan_of(spark, "wordpiece_bf_encode_batch_docs")
    assert "MapInPandas" in p
    assert "BatchEvalPython" not in p


def test_multimodal_phash_near_dups_banded_join_arrow_codec(spark):
    """The spectral near-dup plan: one Arrow MapInPandas fingerprint
    (codec-family exception), banded equi-join pairing — no cartesian,
    no nested-loop pass over images."""
    p = plan_of(spark, "multimodal_phash_near_dups")
    assert "MapInPandas" in p
    assert "BatchEvalPython" not in p
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_media_quality_stats_arrow_pure_map(spark):
    """Both decode-level quality filters are pure Arrow maps over the
    scan — zero shuffle, zero row-at-a-time Python."""
    for name in ("multimodal_image_quality", "multimodal_audio_quality"):
        p = plan_of(spark, name)
        assert "MapInPandas" in p
        assert "BatchEvalPython" not in p
        assert "Exchange hashpartitioning" not in p


def test_multimodal_video_near_dups_postings_join(spark):
    """The video tier's plan: one Arrow MapInPandas per-frame
    fingerprint fan-out, the postings equi-join on the frame hash
    (with the hot-hash cap window partitioned BY the hash), two
    key-joins to per-video counts — no cartesian, no nested loop, no
    row-Python."""
    p = plan_of(spark, "multimodal_video_near_dups")
    # the frame fan-out is STAGED (round 12): consumers scan the
    # write-once parquet frame table, so no Arrow node re-decodes
    assert "video_frames" in p and "MapInPandas" not in p
    assert "BatchEvalPython" not in p
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_multimodal_curation_pipeline_staged_no_redecode(spark):
    """The pipeline's contract (round-11 verdict item 6): every stage
    reads a write-once staged artifact — NO payload is re-decoded, so
    the plan holds zero Python/Arrow nodes (the decodes happened at
    staging time) and no cartesian; the dedup losers reach the
    survivor count through a broadcast anti-join."""
    p = plan_of(spark, "multimodal_curation_pipeline")
    assert "MapInPandas" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "CartesianProduct" not in p
    # staged quality verdicts are a parquet scan (the dHash pair scan
    # is consumed by the CC rounds behind eager checkpoints, same as
    # multimodal_dup_survivors); survivors land via broadcast anti
    assert "image_quality" in p
    assert "BroadcastHashJoin" in p and "LeftAnti" in p


def test_multimodal_video_temporal_dups_postings_join(spark):
    """Temporal shingles keep the set tier's scale shape: consumers
    scan the staged frame table (zero Arrow nodes — the decode ran at
    staging time), shingling is a lead() window (one shuffle on the
    video id), pairing is a postings equi-join on the shingle — never
    a cartesian."""
    p = plan_of(spark, "multimodal_video_temporal_dups")
    assert "CartesianProduct" not in p and "NestedLoop" not in p
    assert "video_frames" in p and "MapInPandas" not in p
    # the postings join is a hash equi-join (broadcast at test scale;
    # corpus stats flip it to shuffle — never a nested loop)
    assert any(
        j in p
        for j in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin")
    )


def test_perceptual_recall_audit_capped_brute_force(spark):
    """The audit's contract: quadratic only in the id<cap slice (the
    inequality pair join over the checkpointed grid table), hashes and
    grids through Arrow batches, candidate/truth intersections as
    hash joins — no row-at-a-time Python."""
    p = plan_of(spark, "perceptual_recall_audit")
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "Scan ExistingRDD" in p  # checkpointed truth/cand stages


def test_perceptual_radius_curve_single_join_nested(spark):
    """The curve's nesting contract: ONE banded join per tier at the
    max radius serves every radius row (the radius dim is a broadcast
    theta-join over the checkpointed candidate table — no per-radius
    re-join of the hash tables), no row-Python anywhere."""
    p = plan_of(spark, "perceptual_radius_curve")
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "Scan ExistingRDD" in p  # the checkpointed one-join cands
    # hash-table subtrees must NOT appear once per radius: the only
    # MapInPandas allowed is zero (cands checkpointed upstream)
    assert "MapInPandas" not in p
